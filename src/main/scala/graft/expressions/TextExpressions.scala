package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.array.ByteArrayMethods
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

/** Native BM25 term counter: one UTF-8 scan per row gives the doc
  * length and every query term's frequency.
  *
  * The HOF formulation (`size(bm25Tokens(t))` for dl plus one
  * `size(filter(bm25Tokens(t), _ === term))` per query term) is
  * CodegenFallback, and subexpression elimination does not look
  * inside CodegenFallback children, so the regex tokenizer ran
  * 1 + |terms| times per row, interpreted. It stays in SearchSpec as
  * the differential-testing twin (the spec asserts identical counts
  * and identical `Bm25.score` rows).
  *
  * Semantics (mirror `TextFns.bm25Tokens`, the reference's
  * `[a-z0-9]+` tokens longer than 2 characters):
  *  - `child` is the ALREADY-LOWERCASED text (`lower(text)`), so the
  *    case mapping stays Spark's;
  *  - a token is a maximal run of bytes in `[a-z0-9]`. Every byte of a
  *    multi-byte UTF-8 character is >= 0x80, so byte runs are exactly
  *    the regex's character runs, and a run's byte length is its
  *    character length;
  *  - output is `array<double>` `[dl, tf_0, …, tf_{n-1}]`, where dl
  *    counts tokens longer than 2 bytes and tf_i counts tokens equal
  *    to `terms(i)`; a term that is not such a token (punctuation,
  *    ≤ 2 characters) counts 0;
  *  - null text → null.
  *
  * Per row it allocates only the output array: tokens are compared
  * in place against the terms' bytes, never materialized.
  */
case class Bm25TermCounts(child: Expression, terms: Seq[String]) extends UnaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "bm25_term_counts"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"input must be string, got ${other.sql}")
  }

  @transient private lazy val termBytes: Array[Array[Byte]] =
    terms.map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8)).toArray

  override def nullSafeEval(t: Any): Any = {
    val s = t.asInstanceOf[UTF8String]
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val nb = s.numBytes
    val out = UnsafeArrayData.createFreshArray(terms.size + 1, 8)
    var dl = 0
    var i = 0
    while (i < nb) {
      val start = i
      while (i < nb && Bm25TermCounts.isTokenByte(Platform.getByte(base, off + i))) i += 1
      val len = i - start
      if (len > 2) {
        dl += 1
        var k = 0
        while (k < termBytes.length) {
          val tb = termBytes(k)
          if (tb.length == len && ByteArrayMethods.arrayEquals(
              base, off + start, tb, Platform.BYTE_ARRAY_OFFSET, len)) {
            out.setDouble(k + 1, out.getDouble(k + 1) + 1.0)
          }
          k += 1
        }
      }
      if (i == start) i += 1
    }
    out.setDouble(0, dl.toDouble)
    out
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s => {
      val termsRef = ctx.addReferenceObj("terms", termBytes, "byte[][]")
      val base = ctx.freshName("base")
      val off = ctx.freshName("off")
      val nb = ctx.freshName("nb")
      val out = ctx.freshName("out")
      val dl = ctx.freshName("dl")
      val i = ctx.freshName("i")
      val start = ctx.freshName("start")
      val len = ctx.freshName("len")
      val k = ctx.freshName("k")
      val b = ctx.freshName("b")
      val platform = classOf[Platform].getName
      val bam = classOf[ByteArrayMethods].getName
      val uad = classOf[UnsafeArrayData].getName
      s"""
         |final Object $base = $s.getBaseObject();
         |final long $off = $s.getBaseOffset();
         |final int $nb = $s.numBytes();
         |final $uad $out = $uad.createFreshArray(${terms.size + 1}, 8);
         |int $dl = 0;
         |int $i = 0;
         |while ($i < $nb) {
         |  final int $start = $i;
         |  while ($i < $nb) {
         |    final byte $b = $platform.getByte($base, $off + $i);
         |    if (!(($b >= 'a' && $b <= 'z') || ($b >= '0' && $b <= '9'))) break;
         |    $i++;
         |  }
         |  final int $len = $i - $start;
         |  if ($len > 2) {
         |    $dl++;
         |    for (int $k = 0; $k < $termsRef.length; $k++) {
         |      if ($termsRef[$k].length == $len && $bam.arrayEquals(
         |          $base, $off + $start, $termsRef[$k], $platform.BYTE_ARRAY_OFFSET, $len)) {
         |        $out.setDouble($k + 1, $out.getDouble($k + 1) + 1.0);
         |      }
         |    }
         |  }
         |  if ($i == $start) $i++;
         |}
         |$out.setDouble(0, (double) $dl);
         |${ev.value} = $out;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Bm25TermCounts =
    copy(child = newChild)
}

object Bm25TermCounts {
  private def isTokenByte(b: Byte): Boolean =
    (b >= 'a' && b <= 'z') || (b >= '0' && b <= '9')
}
