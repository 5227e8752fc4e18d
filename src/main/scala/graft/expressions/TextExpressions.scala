package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native word-shingle expression for the dedup hot path.
  *
  * The higher-order-function formulation (`transform` over a
  * `sequence` with `element_at` + `concat_ws` in the lambda) is
  * CodegenFallback: one interpreted lambda invocation per shingle
  * with boxed indices, which dominates the shingle stage of the
  * MinHash/Jaccard dedup family the same way the HOF dot product
  * dominated vector scoring before VecDot. This generates a tight
  * two-level loop instead. The HOF formulation stays in
  * TextAnalysisSpec as the differential-testing twin (the spec
  * asserts identical output).
  *
  * Semantics (mirrors the HOF version and the DuckDB oracle):
  *  - fewer than `n` tokens → empty array;
  *  - shingle i = tokens[i..i+n-1] joined with single spaces;
  *  - null token elements are not expected (split() never yields
  *    them) and poison the shingle to null-free "" join semantics of
  *    concat_ws — kept out by construction upstream.
  */
case class TokenShingles(child: Expression, n: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "token_shingles"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) if n >= 1 => TypeCheckResult.TypeCheckSuccess
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckFailure(
      s"shingle width must be >= 1, got $n")
    case other => TypeCheckResult.TypeCheckFailure(
      s"input must be array<string>, got ${other.sql}")
  }

  private val space = UTF8String.fromString(" ")

  override def nullSafeEval(a: Any): Any = {
    val arr = a.asInstanceOf[ArrayData]
    val m = arr.numElements()
    if (m < n) new GenericArrayData(Array.empty[Any])
    else {
      val out = new Array[Any](m - n + 1)
      var i = 0
      while (i <= m - n) {
        val parts = new Array[UTF8String](n)
        var j = 0
        while (j < n) {
          parts(j) = arr.getUTF8String(i + j)
          j += 1
        }
        out(i) = UTF8String.concatWs(space, parts: _*)
        i += 1
      }
      new GenericArrayData(out)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val spaceRef = ctx.addReferenceObj("space", space, classOf[UTF8String].getName)
      val m = ctx.freshName("m")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val out = ctx.freshName("out")
      val parts = ctx.freshName("parts")
      val utf8 = classOf[UTF8String].getName
      val gad = classOf[GenericArrayData].getName
      s"""
         |final int $m = $a.numElements();
         |if ($m < $n) {
         |  ${ev.value} = new $gad(new Object[0]);
         |} else {
         |  final Object[] $out = new Object[$m - $n + 1];
         |  for (int $i = 0; $i <= $m - $n; $i++) {
         |    final $utf8[] $parts = new $utf8[$n];
         |    for (int $j = 0; $j < $n; $j++) {
         |      $parts[$j] = $a.getUTF8String($i + $j);
         |    }
         |    $out[$i] = $utf8.concatWs($spaceRef, $parts);
         |  }
         |  ${ev.value} = new $gad($out);
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): TokenShingles =
    copy(child = newChild)
}

object TokenShingles {
  val info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo =
    new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
      classOf[TokenShingles].getName, "token_shingles")
}
