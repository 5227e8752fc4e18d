package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, LeafExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expressions for the vector hot path.
  *
  * The builtin higher-order functions (`zip_with`, `aggregate`) are
  * CodegenFallback: every element comparison goes through an
  * interpreted lambda with boxed values, which dominates the runtime
  * of brute-force scoring. These expressions generate a tight
  * primitive-double loop inside WholeStageCodegen instead — same
  * left-to-right accumulation order as the HOF fold, so results are
  * bit-identical to the `VectorFns` formulas (and to the DuckDB
  * oracle's sequential sum).
  *
  * Null semantics mirror the HOF composition they replace: null input
  * array → null; length mismatch → null (zip_with pads with null and
  * the product poisons the fold); any null element → null.
  *
  * Capability mirror of the reference's similarity math
  * (reference: backend/app/core/vector_store.py:604 cosine similarity,
  * backend/app/core/recommender.py:418 _cosine_similarity).
  */
object VectorExpressions {

  private[expressions] def checkArray(dt: DataType, side: String): TypeCheckResult =
    dt match {
      case ArrayType(FloatType | DoubleType | IntegerType | LongType, _) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$side must be array<float|double|int|bigint>, got ${other.sql}")
    }

  /** Java accessor snippet for a primitive element, widened to double. */
  private[expressions] def elemGet(arr: String, i: String, et: DataType): String =
    et match {
      case FloatType   => s"(double) $arr.getFloat($i)"
      case DoubleType  => s"$arr.getDouble($i)"
      case IntegerType => s"(double) $arr.getInt($i)"
      case LongType    => s"(double) $arr.getLong($i)"
      case other => throw new IllegalStateException(s"unsupported element $other")
    }

  private[expressions] def elemEval(arr: ArrayData, i: Int, et: DataType): Double =
    et match {
      case FloatType   => arr.getFloat(i).toDouble
      case DoubleType  => arr.getDouble(i)
      case IntegerType => arr.getInt(i).toDouble
      case LongType    => arr.getLong(i).toDouble
      case other => throw new IllegalStateException(s"unsupported element $other")
    }
}

/** Deterministic double dot product of two numeric arrays.
  *
  * A foldable side (a literal query vector) is evaluated once at code
  * generation and widened into a primitive `double[]` held as a
  * reference object, so the per-row loop reads a plain array instead
  * of unboxing the literal's generic array data element by element.
  * A NULL literal or a null element becomes a has-null flag (every dot
  * product is then null) and the length check stays per row; the
  * accumulation order is unchanged, so results are bit-identical to
  * the column form.
  */
case class VecDot(left: Expression, right: Expression) extends BinaryExpression {
  import VectorExpressions._

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "vec_dot"

  private def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  override def checkInputDataTypes(): TypeCheckResult =
    checkArray(left.dataType, "left") match {
      case TypeCheckResult.TypeCheckSuccess => checkArray(right.dataType, "right")
      case fail => fail
    }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val (arrA, arrB) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    val n = arrA.numElements()
    if (n != arrB.numElements()) return null
    val (etA, etB) = (elemType(left), elemType(right))
    var s = 0.0
    var i = 0
    while (i < n) {
      if (arrA.isNullAt(i) || arrB.isNullAt(i)) return null
      s += elemEval(arrA, i, etA) * elemEval(arrB, i, etB)
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    if (right.foldable) foldedGenCode(ctx, ev, left, right, foldedLeft = false)
    else if (left.foldable) foldedGenCode(ctx, ev, right, left, foldedLeft = true)
    else nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
         |final int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $s += ${elemGet(a, i, elemType(left))} * ${elemGet(b, i, elemType(right))};
         |  }
         |  if (!${ev.isNull}) ${ev.value} = $s;
         |}
       """.stripMargin
    })

  /** The loop against a side evaluated once: `folded` is widened into
    * a `double[]` reference; `other` is generated per row. The product
    * keeps the operands' left/right order.
    */
  private def foldedGenCode(ctx: CodegenContext, ev: ExprCode,
      other: Expression, folded: Expression, foldedLeft: Boolean): ExprCode = {
    val o = other.genCode(ctx)
    val arr = folded.eval().asInstanceOf[ArrayData] // null for a NULL literal
    val et = elemType(folded)
    val vals = if (arr == null) Array.emptyDoubleArray else Array.tabulate(arr.numElements())(i =>
      if (arr.isNullAt(i)) 0.0 else elemEval(arr, i, et))
    val hasNull = arr == null || (0 until arr.numElements()).exists(arr.isNullAt)
    val q = ctx.addReferenceObj("vecDotFolded", vals, "double[]")
    val (fv, i, s) = (ctx.freshName("fv"), ctx.freshName("i"), ctx.freshName("s"))
    val oElem = elemGet(o.value.toString, i, elemType(other))
    val product = if (foldedLeft) s"$fv[$i] * $oElem" else s"$oElem * $fv[$i]"
    ev.copy(code = code"""
      |${o.code}
      |boolean ${ev.isNull} = ${o.isNull} || $hasNull;
      |double ${ev.value} = ${CodeGenerator.defaultValue(dataType)};
      |if (!${ev.isNull}) {
      |  final double[] $fv = $q;
      |  if (${o.value}.numElements() != $fv.length) {
      |    ${ev.isNull} = true;
      |  } else {
      |    double $s = 0.0;
      |    for (int $i = 0; $i < $fv.length; $i++) {
      |      if (${o.value}.isNullAt($i)) { ${ev.isNull} = true; break; }
      |      $s += $product;
      |    }
      |    if (!${ev.isNull}) ${ev.value} = $s;
      |  }
      |}
    """.stripMargin)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecDot =
    copy(left = newLeft, right = newRight)
}

object VecDot {
  val info: ExpressionInfo = new ExpressionInfo(
    classOf[VecDot].getName, "vec_dot")
}

/** Deterministic double sum-of-squares of a numeric array (the child
  * is evaluated once, unlike composing `VecDot(a, a)`).
  */
case class VecNormSq(child: Expression) extends UnaryExpression {
  import VectorExpressions._

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "vec_norm_sq"

  private def elemType: DataType =
    child.dataType.asInstanceOf[ArrayType].elementType

  override def checkInputDataTypes(): TypeCheckResult =
    checkArray(child.dataType, "input")

  override def nullSafeEval(a: Any): Any = {
    val arr = a.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val et = elemType
    var s = 0.0
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) return null
      val v = elemEval(arr, i, et)
      s += v * v
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      val v = ctx.freshName("v")
      s"""
         |final int $n = $a.numElements();
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.isNullAt($i)) { ${ev.isNull} = true; break; }
         |  final double $v = ${elemGet(a, i, elemType)};
         |  $s += $v * $v;
         |}
         |if (!${ev.isNull}) ${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): VecNormSq =
    copy(child = newChild)
}

object VecNormSq {
  val info: ExpressionInfo = new ExpressionInfo(
    classOf[VecNormSq].getName, "vec_norm_sq")
}

/** A driver-computed double (a query vector's norm) that generated
  * code reads from a reference object. A `Literal` double is inlined
  * into the Java source, so code that differs only in a per-query value
  * would be compiled again for every query; held by reference, such
  * queries share one compiled class. Not foldable, so the optimizer
  * leaves it in place.
  */
case class RefDouble(value: Double) extends LeafExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = false
  override def foldable: Boolean = false
  override def prettyName: String = "ref_double"

  override def eval(input: InternalRow): Any = value

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("refDouble", java.lang.Double.valueOf(value), "java.lang.Double")
    ev.copy(code = code"final double ${ev.value} = $ref.doubleValue();", isNull = FalseLiteral)
  }
}
