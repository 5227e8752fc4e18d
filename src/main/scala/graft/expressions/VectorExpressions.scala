package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, LeafExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil, TypeUtils}
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

  /** Spark's ascending order of `dt` over Catalyst values with NULL
    * first — `ORDER BY cell`, and `array_sort` of structs led by the
    * cell.
    */
  def cellOrdering(dt: DataType): Ordering[Any] = {
    val ord = TypeUtils.getInterpretedOrdering(dt)
    (a, b) =>
      if (a != null && b != null) ord.compare(a, b)
      else (if (a == null) 0 else 1) - (if (b == null) 0 else 1)
  }

  /** `round(x, 6)` as Spark rounds a double (HALF_UP on the decimal
    * string; NaN and infinities unchanged).
    */
  def round6(x: Double): Double =
    if (x.isNaN || x.isInfinite) x
    else java.math.BigDecimal.valueOf(x).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** NearestCell's fold over a widened vector `v(0 until n)`: the index
    * of the winning centroid, or -1 when no cosine is defined. The dot
    * product accumulates in array order, as VecDot does; `nullif(…, 0)`
    * skips a zero denominator (-0.0 included; NaN passes), and the
    * strict max compares as Spark's `>` (SQLOrderingUtil).
    */
  def nearestIndex(v: Array[Double], n: Int, cnrm: Double,
      cents: Array[Array[Double]], norms: Array[Double]): Int = {
    var best = -1
    var bestCos = Double.NegativeInfinity
    var j = 0
    while (j < cents.length) {
      val c = cents(j)
      if (c != null && c.length == n) {
        var s = 0.0
        var i = 0
        while (i < n) { s += v(i) * c(i); i += 1 }
        val den = cnrm * norms(j)
        if (den != 0.0) {
          val cos = round6(s / den)
          if (SQLOrderingUtil.compareDoubles(cos, bestCos) > 0) { best = j; bestCos = cos }
        }
      }
      j += 1
    }
    best
  }

  /** nearestIndex under the L2 objective: the score is
    * `round(s − halfNormSq(j), 6)`, whose argmax is argmin ‖v − c‖².
    */
  def nearestIndexL2(v: Array[Double], n: Int,
      cents: Array[Array[Double]], halfNormSq: Array[Double]): Int = {
    var best = -1
    var bestScore = Double.NegativeInfinity
    var j = 0
    while (j < cents.length) {
      val c = cents(j)
      if (c != null && c.length == n) {
        var s = 0.0
        var i = 0
        while (i < n) { s += v(i) * c(i); i += 1 }
        val score = round6(s - halfNormSq(j))
        if (SQLOrderingUtil.compareDoubles(score, bestScore) > 0) { best = j; bestScore = score }
      }
      j += 1
    }
    best
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

/** A codebook held on the driver for [[NearestCell]], in cell order
  * (Spark's ascending order of the cell type, NULL first — the order
  * `array_sort` gives the `(cell, centroid, term)` structs). `cells`
  * holds Catalyst values; `cents(j)` is centroid j widened to doubles,
  * or null when it is NULL or holds a NULL element. `terms(j)` is the
  * per-cell term of the book's objective, fixed when the book is
  * built: the centroid's L2 norm for [[CellBook.Cosine]], its
  * `normSq / 2` for [[CellBook.L2]] (unread when `cents(j)` is null).
  */
final class CellBook(
    val cellType: DataType, val cells: Array[Any],
    val cents: Array[Array[Double]], val terms: Array[Double],
    val objective: CellBook.Objective) extends Serializable {
  require(cells.length == cents.length && cents.length == terms.length,
    "codebook columns differ in length")
  override def toString: String = s"codebook[${cells.length}, $objective]"
}

object CellBook {

  /** What NearestCell maximizes over a book's cells. */
  sealed trait Objective
  /** The rounded cosine; terms are centroid norms. */
  case object Cosine extends Objective
  /** The rounded `dot − ‖c‖²/2`; terms are centroid `normSq / 2`. */
  case object L2 extends Objective

  /** Builds the codebook from collected `(cell, centroid, term)`
    * entries in external form (a centroid is a numeric Seq or null; a
    * term a Double or null), sorted into cell order. Entries with an
    * equal cell keep their input order; which of them wins a row
    * never changes the cell it is given.
    */
  def apply(cellType: DataType, entries: Seq[(Any, scala.collection.Seq[Any], Any)],
      objective: Objective): CellBook = {
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(cellType)
    val sorted = entries.map { case (c, v, t) => (toCatalyst(c), v, t) }
      .sortBy(_._1)(VectorExpressions.cellOrdering(cellType))
    def widen(v: scala.collection.Seq[Any]): Array[Double] =
      if (v == null || v.contains(null)) null
      else v.map {
        case x: Float => x.toDouble
        case x: Double => x
        case x: Int => x.toDouble
        case x: Long => x.toDouble
        case x => throw new IllegalArgumentException(s"non-numeric centroid element $x")
      }.toArray
    val cents = sorted.map { case (_, v, _) => widen(v) }.toArray
    new CellBook(cellType, sorted.map(_._1).toArray, cents,
      sorted.zip(cents).map { case ((_, _, t), c) =>
        if (c == null || t == null) Double.NaN else t.asInstanceOf[Double] }.toArray,
      objective)
  }
}

/** The nearest cell of `vec` in a driver-held codebook: per cell, in
  * cell order, the score of the book's objective — `round(vec_dot(vec,
  * centroid) / nullif(cnrm · norm, 0), 6)` under cosine, `cnrm` the
  * L2 norm of `vec`; `round(vec_dot(vec, centroid) − normSq / 2, 6)`
  * under L2, which reads no `cnrm` (callers pass a literal) — folded
  * by strict max with Spark's `>` on doubles: a NULL score is skipped,
  * NaN beats every number, and a tie keeps the earlier (smaller) cell.
  * This is the `aggregate` fold over the sorted centroid structs, done
  * in one primitive loop per row with no boxed struct per cell; code
  * generation picks the objective's loop once per book.
  *
  * Bad inputs: a NULL vector, a NULL element, a NULL `cnrm`, a vector
  * of another length than every centroid, and an empty codebook give
  * a NULL cell; a NULL or wrong-length centroid never wins. Under
  * cosine a zero-norm vector also gets a NULL cell and a zero-norm
  * centroid never wins; under L2 both are ordinary (a zero vector goes
  * to the centroid of least norm). A NaN or infinite component gives
  * NaN cosines, so the vector goes to the first cell of matching
  * length, where its own NaN score drops it from every search; under
  * L2 its scores are NaN or infinite and the same strict max applies.
  *
  * The codebook is held as reference objects (`double[][]`, `double[]`,
  * `Object[]`), so a new codebook of the same types and objective
  * reuses the compiled code.
  */
case class NearestCell(vec: Expression, cnrm: Expression, book: CellBook)
    extends BinaryExpression {
  import VectorExpressions._

  override def left: Expression = vec
  override def right: Expression = cnrm
  override def dataType: DataType = book.cellType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "nearest_cell"

  private def elemType: DataType = vec.dataType.asInstanceOf[ArrayType].elementType

  override def checkInputDataTypes(): TypeCheckResult =
    checkArray(vec.dataType, "vec") match {
      case TypeCheckResult.TypeCheckSuccess if cnrm.dataType != DoubleType =>
        TypeCheckResult.TypeCheckFailure(s"cnrm must be double, got ${cnrm.dataType.sql}")
      case other => other
    }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val arr = a.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if ((0 until n).exists(arr.isNullAt)) return null
    val v = Array.tabulate(n)(i => elemEval(arr, i, elemType))
    val best = book.objective match {
      case CellBook.Cosine => nearestIndex(v, n, b.asInstanceOf[Double], book.cents, book.terms)
      case CellBook.L2 => nearestIndexL2(v, n, book.cents, book.terms)
    }
    if (best < 0) null else book.cells(best)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cents = ctx.addReferenceObj("ncCents", book.cents, "double[][]")
    val terms = ctx.addReferenceObj("ncTerms", book.terms, "double[]")
    val cells = ctx.addReferenceObj("ncCells", book.cells, "Object[]")
    val buf = ctx.addMutableState("double[]", "ncBuf", b => s"$b = new double[0];")
    val boxed = CodeGenerator.boxedType(dataType)
    nullSafeCodeGen(ctx, ev, (a, nrm) => {
      val (n, i, best, cell) =
        (ctx.freshName("n"), ctx.freshName("i"), ctx.freshName("best"), ctx.freshName("cell"))
      val fold = book.objective match {
        case CellBook.Cosine => s"nearestIndex($buf, $n, $nrm, $cents, $terms)"
        case CellBook.L2 => s"nearestIndexL2($buf, $n, $cents, $terms)"
      }
      s"""
         |final int $n = $a.numElements();
         |if ($buf.length < $n) $buf = new double[$n];
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.isNullAt($i)) { ${ev.isNull} = true; break; }
         |  $buf[$i] = ${elemGet(a, i, elemType)};
         |}
         |if (!${ev.isNull}) {
         |  final int $best = graft.expressions.VectorExpressions.$fold;
         |  final Object $cell = $best < 0 ? null : $cells[$best];
         |  if ($cell == null) ${ev.isNull} = true;
         |  else ${ev.value} = ($boxed) $cell;
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): NearestCell =
    copy(vec = newLeft, cnrm = newRight)
}
