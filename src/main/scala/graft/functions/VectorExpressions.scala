package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expressions for the vector-similarity hot path.
  *
  * The `zip_with`/`aggregate` higher-order-function formulation is
  * CodegenFallback (interpreted, per-element closure dispatch); these
  * expressions generate a tight primitive loop inside whole-stage codegen
  * instead — SURVEY §2's preference (b): "a native Catalyst Expression
  * (with doGenCode) beats a Scala UDF".
  *
  * Semantics are EXACTLY the sequential left fold in double precision that
  * the DuckDB oracles compute (list_dot_product / list_distance over
  * DOUBLE[]): accumulation order is element order, each float widened to
  * double before multiply/subtract.
  */
abstract class VectorFoldExpression extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  protected def elementType: DataType = left.dataType match {
    case ArrayType(et, _) => et
    case _ => NullType
  }

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(FloatType, _), ArrayType(FloatType, _)) => TypeCheckResult.TypeCheckSuccess
    case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<float> or two array<double> arguments, " +
        s"got ${left.dataType.catalogString} and ${right.dataType.catalogString}")
  }

  /** scala accumulation step for the interpreted path */
  protected def step(acc: Double, x: Double, y: Double): Double

  /** java source for one accumulation step (x, y already double) */
  protected def stepJava(acc: String, x: String, y: String): String

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    elementType match {
      case FloatType =>
        while (i < n) { acc = step(acc, a.getFloat(i), b.getFloat(i)); i += 1 }
      case _ =>
        while (i < n) { acc = step(acc, a.getDouble(i), b.getDouble(i)); i += 1 }
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val getter = elementType match {
      case FloatType => "getFloat"
      case _ => "getDouble"
    }
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double x = (double) $a.$getter($i);
         |  double y = (double) $b.$getter($i);
         |  ${stepJava(acc, "x", "y")}
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })
  }
}

/** Sequential-fold dot product: sum_i a_i * b_i (in double). */
case class VecDot(left: Expression, right: Expression) extends VectorFoldExpression {
  override def prettyName: String = "graft_dot"
  override protected def step(acc: Double, x: Double, y: Double): Double = acc + x * y
  override protected def stepJava(acc: String, x: String, y: String): String =
    s"$acc += $x * $y;"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): VecDot =
    copy(left = l, right = r)
}

/** Sequential-fold squared euclidean distance: sum_i (a_i - b_i)^2. */
case class VecSqDist(left: Expression, right: Expression) extends VectorFoldExpression {
  override def prettyName: String = "graft_sqdist"
  override protected def step(acc: Double, x: Double, y: Double): Double = {
    val d = x - y; acc + d * d
  }
  override protected def stepJava(acc: String, x: String, y: String): String =
    s"double d = $x - $y; $acc += d * d;"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): VecSqDist =
    copy(left = l, right = r)
}

/** Fixed-point vector quantization: floor(v_i * scale) per element, held
  * as doubles (exactly representable integers — the BUFF bounded-float
  * domain applied to vectors). The transform() HOF form is CodegenFallback
  * and re-dispatches a closure per element; this generates one primitive
  * loop. `right` must be a foldable double (the scale).
  */
case class VecQuantize(left: Expression, right: Expression)
    extends BinaryExpression {
  override def prettyName: String = "graft_quantize"
  // null elements propagate (x -> floor(x*scale) is elementwise), so the
  // output is nullable exactly when the input is
  override def dataType: DataType = ArrayType(DoubleType, containsNull = inputContainsNull)
  override def nullable: Boolean = true

  private def inputContainsNull: Boolean = left.dataType match {
    case ArrayType(_, n) => n
    case _ => false
  }

  private def elementType: DataType = left.dataType match {
    case ArrayType(et, _) => et
    case _ => NullType
  }

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(FloatType, _) | ArrayType(DoubleType, _), DoubleType) =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<float|double>, double), " +
        s"got ${left.dataType.catalogString} and ${right.dataType.catalogString}")
  }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val scale = r.asInstanceOf[Double]
    val n = a.numElements()
    val isFloat = elementType == FloatType
    if (!inputContainsNull) {
      val out = new Array[Double](n)
      var i = 0
      while (i < n) {
        out(i) = math.floor((if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)) * scale)
        i += 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    } else {
      val out = new Array[Any](n)
      var i = 0
      while (i < n) {
        out(i) =
          if (a.isNullAt(i)) null
          else math.floor((if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)) * scale)
        i += 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val getter = elementType match {
      case FloatType => "getFloat"
      case _ => "getDouble"
    }
    nullSafeCodeGen(ctx, ev, (a, s) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val out = ctx.freshName("out")
      if (!inputContainsNull) {
        // primitive fast path: the common containsNull=false input keeps a
        // boxing-free double[] loop
        s"""
           |int $n = $a.numElements();
           |double[] $out = new double[$n];
           |for (int $i = 0; $i < $n; $i++) {
           |  $out[$i] = java.lang.Math.floor(((double) $a.$getter($i)) * $s);
           |}
           |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
         """.stripMargin
      } else {
        s"""
           |int $n = $a.numElements();
           |Object[] $out = new Object[$n];
           |for (int $i = 0; $i < $n; $i++) {
           |  $out[$i] = $a.isNullAt($i) ? null :
           |    (Object) java.lang.Math.floor(((double) $a.$getter($i)) * $s);
           |}
           |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
         """.stripMargin
      }
    })
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): VecQuantize =
    copy(left = l, right = r)
}

/** Seeded FNV-1a 32-bit string hash as a native codegen'd expression —
  * the per-token hash of the simhash pipeline (TextOps.fnv32 semantics:
  * fold over UTF-16 chars, 32-bit wraparound). A UDF here was the only
  * interpreted hop in an otherwise codegen'd pipeline; this generates the
  * ~5-instruction loop inline in whole-stage codegen. `right` is the fold
  * seed (2166136261 for the plain hash; fnv32 of a prefix for prefixed
  * variants, since fnv32(p + s) == fnv32From(fnv32(p), s)).
  */
case class Fnv32(left: Expression, right: Expression) extends BinaryExpression {
  override def prettyName: String = "graft_fnv32"
  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (StringType, LongType) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (string, bigint seed), " +
        s"got ${left.dataType.catalogString} and ${right.dataType.catalogString}")
  }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val s = l.toString
    var h = r.asInstanceOf[Long]
    var i = 0
    while (i < s.length) {
      h = ((h ^ s.charAt(i)) * 16777619L) & 0xffffffffL
      i += 1
    }
    h
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (u, seed) => {
      val s = ctx.freshName("s")
      val h = ctx.freshName("h")
      val i = ctx.freshName("i")
      s"""
         |String $s = $u.toString();
         |long $h = $seed;
         |for (int $i = 0; $i < $s.length(); $i++) {
         |  $h = (($h ^ $s.charAt($i)) * 16777619L) & 0xffffffffL;
         |}
         |${ev.value} = $h;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Fnv32 =
    copy(left = l, right = r)
}

/** Product-quantization encode (Jégou et al., TPAMI 2011 — public
  * algorithm): split the vector into `m` subspaces and emit, per subspace,
  * the index of the nearest codebook centroid (squared L2, ties -> lowest
  * index). The codebook rides along as a broadcast-style reference object
  * (a bounded driver-side dictionary, the same shape as the reference's
  * kernel dictionaries, kernel.rs:22); output is array<int> of `m` codes —
  * at k<=256 centroids that is m bytes of state per vector vs 4*dim for
  * floats, the memory tier that makes 1e9+-vector ANN feasible.
  * Codegen'd nested loop; the squared-L2 fold is index-ascending, so the
  * DuckDB oracle reproduces the argmin bit-for-bit.
  */
/** Johnson–Lindenstrauss projection as ONE native expression: out[i] =
  * <v, planes[i]> for every plane, computed in a single tight loop pair.
  * The per-plane accumulation is the same sequential left fold as
  * [[VecDot]] / DuckDB's list_dot_product (j ascending, float widened to
  * double before multiply), so the projected doubles are bit-identical
  * to the oracle's.
  *
  * Why an expression and not `array(dot, dot, ...)`: the 32-column array
  * form is re-INLINED by projection collapse into every downstream
  * consumer (a Voronoi assignment references its input ~2·ncells times),
  * exploding the generated code past the JIT/codegen limits and dropping
  * the stage to interpreted evaluation — measured 10x on the RP-IVF
  * shortlist join. One opaque expression keeps each re-evaluation a
  * single compiled loop.
  */
case class RpProject(child: Expression, planes: Array[Array[Double]])
    extends UnaryExpression {
  override def prettyName: String = "graft_rp_project"
  private def r = planes.length
  private def dim = planes(0).length
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true

  private def elementType: DataType = child.dataType match {
    case ArrayType(et, _) => et
    case _ => NullType
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float|double>, got ${child.dataType.catalogString}")
  }

  private def containsNull: Boolean = child.dataType match {
    case ArrayType(_, n) => n
    case _ => false
  }

  // short vectors and null elements fail loudly (the PqEncode policy):
  // primitive getters would read a null slot as 0.0 and project silently
  // wrong values. OVER-length vectors project on the first `dim`
  // elements (prefix semantics — parity with the min-length fold of the
  // VecDot/list_dot_product pair these expressions replaced, and with
  // VoronoiCell, which assigns on the same prefix so cell keys never
  // disagree with the projection)
  override def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    if (a.numElements() < dim)
      throw new IllegalArgumentException(
        s"$prettyName: vector has ${a.numElements()} elements, planes need $dim")
    if (containsNull) {
      var i = 0
      while (i < dim) {
        if (a.isNullAt(i)) throw new IllegalArgumentException(
          s"$prettyName: null element at index $i")
        i += 1
      }
    }
    val isFloat = elementType == FloatType
    val out = new Array[Double](r)
    var pi = 0
    while (pi < r) {
      var s = 0.0
      var j = 0
      while (j < dim) {
        val x = if (isFloat) a.getFloat(j).toDouble else a.getDouble(j)
        s += x * planes(pi)(j)
        j += 1
      }
      out(pi) = s
      pi += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val getter = elementType match {
      case FloatType => "getFloat"
      case _ => "getDouble"
    }
    val pl = ctx.addReferenceObj("rpPlanes", planes, "double[][]")
    nullSafeCodeGen(ctx, ev, a => {
      val out = ctx.freshName("out")
      val pi = ctx.freshName("pi")
      val j = ctx.freshName("j")
      val s = ctx.freshName("s")
      val nullCheck = if (containsNull) {
        val ni = ctx.freshName("ni")
        s"""
           |for (int $ni = 0; $ni < $dim; $ni++) {
           |  if ($a.isNullAt($ni)) throw new IllegalArgumentException(
           |    "graft_rp_project: null element at index " + $ni);
           |}
         """.stripMargin
      } else ""
      s"""
         |if ($a.numElements() < $dim) {
         |  throw new IllegalArgumentException(
         |    "graft_rp_project: vector has " + $a.numElements() +
         |    " elements, planes need $dim");
         |}
         |$nullCheck
         |double[] $out = new double[$r];
         |for (int $pi = 0; $pi < $r; $pi++) {
         |  double $s = 0.0;
         |  for (int $j = 0; $j < $dim; $j++) {
         |    $s += ((double) $a.$getter($j)) * $pl[$pi][$j];
         |  }
         |  $out[$pi] = $s;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(c: Expression): RpProject =
    copy(child = c)
}

/** Voronoi cell assignment as ONE native expression: argmax over cells
  * of round(<v,c_i>/(|v|·|c_i|), 6), ties to the SMALLEST index —
  * bit-identical to the `array_max(array(struct(cosine, -i)))` column
  * formula it replaces (same sequential dot fold, centroid norms
  * precomputed with the same fold Catalyst const-folds `l2(lit(c))` to,
  * and the same HALF_UP decimal rounding Spark's Round applies to
  * doubles; VoronoiCellSpec asserts equality row-for-row).
  *
  * Why an expression: the cell is a JOIN KEY in every IVF-family path,
  * and the inferred `isnotnull(cell)` predicate is pushed below the
  * projection with the FULL column formula substituted — 16 struct
  * cosines each re-inlining their input's derivation (~50 evaluations of
  * the projection per row) — which blows past the codegen method limit
  * and drops the scan stage to interpreted evaluation (measured 10x on
  * the RP-IVF shortlist join, and a tax on every ann_ivf* row). As one
  * opaque expression the pushed filter costs one compiled loop.
  */
case class VoronoiCell(child: Expression, centroids: Array[Array[Double]],
                       cnorms: Array[Double], ids: Array[Int])
    extends UnaryExpression {
  override def prettyName: String = "graft_voronoi_cell"
  private def k = centroids.length
  private def dim = centroids(0).length
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true

  private def elementType: DataType = child.dataType match {
    case ArrayType(et, _) => et
    case _ => NullType
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float|double>, got ${child.dataType.catalogString}")
  }

  private def containsNull: Boolean = child.dataType match {
    case ArrayType(_, n) => n
    case _ => false
  }

  override def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    if (a.numElements() < dim)
      throw new IllegalArgumentException(
        s"$prettyName: vector has ${a.numElements()} elements, centroids need $dim")
    if (containsNull) {
      var i = 0
      while (i < dim) {
        if (a.isNullAt(i)) throw new IllegalArgumentException(
          s"$prettyName: null element at index $i")
        i += 1
      }
    }
    val isFloat = elementType == FloatType
    var vn = 0.0
    var j = 0
    while (j < dim) {
      val x = if (isFloat) a.getFloat(j).toDouble else a.getDouble(j)
      vn += x * x
      j += 1
    }
    vn = math.sqrt(vn)
    var best = 0
    var bestScore = Double.NegativeInfinity
    var ci = 0
    while (ci < k) {
      var d = 0.0
      var i = 0
      while (i < dim) {
        val x = if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)
        d += x * centroids(ci)(i)
        i += 1
      }
      val s = VoronoiCell.round6(d / (vn * cnorms(ci)))
      // Double.compare, not '>': the struct-max formula and the oracle's
      // ORDER BY DESC both order NaN GREATEST (a zero-norm centroid's
      // NaN cosine wins there) — primitive '>' would never let NaN win
      if (java.lang.Double.compare(s, bestScore) > 0) { bestScore = s; best = ci }
      ci += 1
    }
    ids(best)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val getter = elementType match {
      case FloatType => "getFloat"
      case _ => "getDouble"
    }
    val cents = ctx.addReferenceObj("voronoiCents", centroids, "double[][]")
    val norms = ctx.addReferenceObj("voronoiNorms", cnorms, "double[]")
    val idArr = ctx.addReferenceObj("voronoiIds", ids, "int[]")
    nullSafeCodeGen(ctx, ev, a => {
      val vn = ctx.freshName("vn")
      val j = ctx.freshName("j")
      val ci = ctx.freshName("ci")
      val i = ctx.freshName("i")
      val d = ctx.freshName("d")
      val s = ctx.freshName("s")
      val best = ctx.freshName("best")
      val bestScore = ctx.freshName("bestScore")
      val x = ctx.freshName("x")
      val nullCheck = if (containsNull) {
        val ni = ctx.freshName("ni")
        s"""
           |for (int $ni = 0; $ni < $dim; $ni++) {
           |  if ($a.isNullAt($ni)) throw new IllegalArgumentException(
           |    "graft_voronoi_cell: null element at index " + $ni);
           |}
         """.stripMargin
      } else ""
      s"""
         |if ($a.numElements() < $dim) {
         |  throw new IllegalArgumentException(
         |    "graft_voronoi_cell: vector has " + $a.numElements() +
         |    " elements, centroids need $dim");
         |}
         |$nullCheck
         |double $vn = 0.0;
         |for (int $j = 0; $j < $dim; $j++) {
         |  double $x = ((double) $a.$getter($j));
         |  $vn += $x * $x;
         |}
         |$vn = Math.sqrt($vn);
         |int $best = 0;
         |double $bestScore = Double.NEGATIVE_INFINITY;
         |for (int $ci = 0; $ci < $k; $ci++) {
         |  double $d = 0.0;
         |  for (int $i = 0; $i < $dim; $i++) {
         |    $d += ((double) $a.$getter($i)) * $cents[$ci][$i];
         |  }
         |  double $s = graft.functions.VoronoiCell.round6($d / ($vn * $norms[$ci]));
         |  if (java.lang.Double.compare($s, $bestScore) > 0) { $bestScore = $s; $best = $ci; }
         |}
         |${ev.value} = $idArr[$best];
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(c: Expression): VoronoiCell =
    copy(child = c)
}

object VoronoiCell {
  /** Spark's Round(_, 6) on a double: HALF_UP decimal rounding, with
    * NaN/Infinity passed through (BigDecimal.valueOf would throw).
    */
  def round6(x: Double): Double =
    if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
}

case class PqEncode(child: Expression, codebook: Array[Array[Array[Double]]])
    extends UnaryExpression {
  override def prettyName: String = "graft_pq_encode"
  private def m = codebook.length
  private def subDim = codebook(0)(0).length
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = true

  private def elementType: DataType = child.dataType match {
    case ArrayType(et, _) => et
    case _ => NullType
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float|double>, got ${child.dataType.catalogString}")
  }

  private def containsNull: Boolean = child.dataType match {
    case ArrayType(_, n) => n
    case _ => false
  }

  // short vectors and null elements FAIL LOUDLY: ArrayData's primitive
  // getters would otherwise read a null slot as garbage (0.0) and emit
  // silently wrong codes (parquet array columns are always
  // nullable-element, so this must be a runtime check, not a type check
  // — same policy as VecQuantize)
  override def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    if (a.numElements() < m * subDim)
      throw new IllegalArgumentException(
        s"$prettyName: vector has ${a.numElements()} elements, codebook needs ${m * subDim}")
    if (containsNull) {
      var i = 0
      while (i < m * subDim) {
        if (a.isNullAt(i)) throw new IllegalArgumentException(
          s"$prettyName: null element at index $i")
        i += 1
      }
    }
    val isFloat = elementType == FloatType
    val codes = new Array[Int](m)
    var mi = 0
    while (mi < m) {
      var best = 0
      var bestD = Double.MaxValue
      var j = 0
      while (j < codebook(mi).length) {
        var d = 0.0
        var i = 0
        while (i < subDim) {
          val x = (if (isFloat) a.getFloat(mi * subDim + i).toDouble
                   else a.getDouble(mi * subDim + i)) - codebook(mi)(j)(i)
          d += x * x
          i += 1
        }
        if (d < bestD) { bestD = d; best = j }
        j += 1
      }
      codes(mi) = best
      mi += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(codes)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val getter = elementType match {
      case FloatType => "getFloat"
      case _ => "getDouble"
    }
    val cb = ctx.addReferenceObj("pqCodebook", codebook, "double[][][]")
    nullSafeCodeGen(ctx, ev, a => {
      val codes = ctx.freshName("codes")
      val mi = ctx.freshName("mi")
      val j = ctx.freshName("j")
      val i = ctx.freshName("i")
      val d = ctx.freshName("d")
      val x = ctx.freshName("x")
      val best = ctx.freshName("best")
      val bestD = ctx.freshName("bestD")
      val nullCheck = if (containsNull) {
        val ni = ctx.freshName("ni")
        s"""
           |for (int $ni = 0; $ni < ${m * subDim}; $ni++) {
           |  if ($a.isNullAt($ni)) throw new IllegalArgumentException(
           |    "graft_pq_encode: null element at index " + $ni);
           |}
         """.stripMargin
      } else ""
      s"""
         |if ($a.numElements() < ${m * subDim}) {
         |  throw new IllegalArgumentException(
         |    "graft_pq_encode: vector has " + $a.numElements() +
         |    " elements, codebook needs ${m * subDim}");
         |}
         |$nullCheck
         |int[] $codes = new int[$m];
         |for (int $mi = 0; $mi < $m; $mi++) {
         |  int $best = 0; double $bestD = Double.MAX_VALUE;
         |  for (int $j = 0; $j < $cb[$mi].length; $j++) {
         |    double $d = 0.0;
         |    for (int $i = 0; $i < $subDim; $i++) {
         |      double $x = ((double) $a.$getter($mi * $subDim + $i)) - $cb[$mi][$j][$i];
         |      $d += $x * $x;
         |    }
         |    if ($d < $bestD) { $bestD = $d; $best = $j; }
         |  }
         |  $codes[$mi] = $best;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($codes);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(c: Expression): PqEncode =
    copy(child = c)
}

/** PQ decode: codes -> the reconstructed vector (the concatenation of the
  * coded centroids, subspace-major). Distance against a reconstruction via
  * the existing graft_sqdist fold IS the ADC lookup sum in the same
  * accumulation order — no separate ADC kernel needed.
  */
case class PqDecode(child: Expression, codebook: Array[Array[Array[Double]]])
    extends UnaryExpression {
  override def prettyName: String = "graft_pq_decode"
  private def m = codebook.length
  private def subDim = codebook(0)(0).length
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(IntegerType, _) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<int> codes, got ${child.dataType.catalogString}")
  }

  private def containsNull: Boolean = child.dataType match {
    case ArrayType(_, n) => n
    case _ => false
  }

  // short or null-element code arrays fail loudly (a null slot would read
  // as centroid 0 — silently wrong reconstruction); runtime check for the
  // same reason as PqEncode
  override def nullSafeEval(v: Any): Any = {
    val codes = v.asInstanceOf[ArrayData]
    if (codes.numElements() < m)
      throw new IllegalArgumentException(
        s"$prettyName: ${codes.numElements()} codes, codebook has $m subspaces")
    if (containsNull) {
      var i = 0
      while (i < m) {
        if (codes.isNullAt(i)) throw new IllegalArgumentException(
          s"$prettyName: null code at index $i")
        i += 1
      }
    }
    val out = new Array[Double](m * subDim)
    var mi = 0
    while (mi < m) {
      val cent = codebook(mi)(codes.getInt(mi))
      var i = 0
      while (i < subDim) { out(mi * subDim + i) = cent(i); i += 1 }
      mi += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cb = ctx.addReferenceObj("pqCodebook", codebook, "double[][][]")
    nullSafeCodeGen(ctx, ev, a => {
      val out = ctx.freshName("out")
      val mi = ctx.freshName("mi")
      val i = ctx.freshName("i")
      val cent = ctx.freshName("cent")
      val nullCheck = if (containsNull) {
        val ni = ctx.freshName("ni")
        s"""
           |for (int $ni = 0; $ni < $m; $ni++) {
           |  if ($a.isNullAt($ni)) throw new IllegalArgumentException(
           |    "graft_pq_decode: null code at index " + $ni);
           |}
         """.stripMargin
      } else ""
      s"""
         |if ($a.numElements() < $m) {
         |  throw new IllegalArgumentException(
         |    "graft_pq_decode: " + $a.numElements() + " codes, codebook has $m subspaces");
         |}
         |$nullCheck
         |double[] $out = new double[${m * subDim}];
         |for (int $mi = 0; $mi < $m; $mi++) {
         |  double[] $cent = $cb[$mi][$a.getInt($mi)];
         |  for (int $i = 0; $i < $subDim; $i++) {
         |    $out[$mi * $subDim + $i] = $cent[$i];
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(c: Expression): PqDecode =
    copy(child = c)
}

/** Column builders for the native expressions (no name lookup, so no
  * session needs them registered), and the by-name builders that
  * `spark.sql.extensions=graft.GraftExtensions` injects for SQL strings.
  */
object VectorFunctions {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.GraftSqlBridge.{column, expression}

  def fnv32(key: Column, seed: Column): Column = column(Fnv32(expression(key), expression(seed)))

  val functions: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    ("graft_dot",
      new ExpressionInfo(classOf[VecDot].getName, "graft_dot"),
      (args: Seq[Expression]) => VecDot(args(0), args(1))),
    ("graft_sqdist",
      new ExpressionInfo(classOf[VecSqDist].getName, "graft_sqdist"),
      (args: Seq[Expression]) => VecSqDist(args(0), args(1))),
    ("graft_quantize",
      new ExpressionInfo(classOf[VecQuantize].getName, "graft_quantize"),
      (args: Seq[Expression]) => VecQuantize(args(0), args(1))),
    ("graft_fnv32",
      new ExpressionInfo(classOf[Fnv32].getName, "graft_fnv32"),
      (args: Seq[Expression]) => Fnv32(args(0), args(1))))
}
