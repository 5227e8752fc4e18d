package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.execution.debug.codegenString
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ColumnShim
import org.apache.spark.sql.types._

import graft.expressions.VecDot
import graft.functions.VectorFns

class VectorFnsSpec extends SparkSpec {
  import spark.implicits._

  /** HOF twin of `VectorFns.dot`: the `zip_with` + `aggregate` fold
    * the native VecDot replaced, kept as its differential-testing
    * reference.
    */
  private def dotHof(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0),
      (acc, x) => acc + x)

  test("dot and cosine match hand-computed values in double precision") {
    val df = Seq(
      (1L, Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f)),
      (2L, Array(1.0f, 0.0f, 0.0f), Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(2.0f, 0.0f, 0.0f), Array(1.0f, 0.0f, 0.0f))
    ).toDF("id", "a", "b")
    val out = df.select($"id",
      VectorFns.dot($"a", $"b").as("dot"),
      VectorFns.cosine($"a", $"b").as("cos"))
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap

    assert(out(1L)._1 === 32.0)
    assert(math.abs(out(1L)._2 - 32.0 / (math.sqrt(14.0) * math.sqrt(77.0))) < 1e-12)
    assert(out(2L)._1 === 0.0 && out(2L)._2 === 0.0)
    assert(out(3L)._2 === 1.0)
  }

  test("native VecDot/VecNormSq agree bit-for-bit with the HOF twins") {
    val rng = new scala.util.Random(42)
    val rows = (1L to 200L).map { i =>
      (i, Array.fill(64)(rng.nextFloat() * 2 - 1), Array.fill(64)(rng.nextFloat() * 2 - 1))
    }
    val df = rows.toDF("id", "a", "b")
    val diff = df.select(
      VectorFns.dot($"a", $"b").as("native"),
      dotHof($"a", $"b").as("hof"),
      VectorFns.normSq($"a").as("native_n"),
      dotHof($"a", $"a").as("hof_n"))
      .where($"native" =!= $"hof" || $"native_n" =!= $"hof_n")
      .count()
    assert(diff == 0, "native expression diverged from HOF fold")
  }

  test("native expressions handle nulls and length mismatch like the HOF path") {
    val df = Seq(
      (1L, Array(1.0f, 2.0f), Array(3.0f, 4.0f)),
      (2L, null.asInstanceOf[Array[Float]], Array(3.0f, 4.0f)),
      (3L, Array(1.0f, 2.0f, 5.0f), Array(3.0f, 4.0f)) // length mismatch
    ).toDF("id", "a", "b")
    val out = df.select($"id", VectorFns.dot($"a", $"b").as("d"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(out(1L).contains(11.0))
    assert(out(2L).isEmpty)
    assert(out(3L).isEmpty)
  }

  /** Literal sides for the foldable-side differential: every element
    * type, a null literal, a null element, a length mismatch and NaN.
    */
  private val litCases: Seq[(String, ArrayType, Seq[Any])] = {
    val f = ArrayType(FloatType)
    Seq(
      ("float", f, Seq(0.5f, -1.25f, 2.0f, 0.1f, 3.3f, -0.7f)),
      ("double", ArrayType(DoubleType), Seq(0.5, -1.25, 2.0, 0.1, 1e-7, -3.3)),
      ("int", ArrayType(IntegerType), Seq(1, -2, 3, 4, 0, 7)),
      ("bigint", ArrayType(LongType), Seq(1L, -2L, 3L, 4000000000L, 0L, -9L)),
      ("null", f, null),
      ("null_elem", f, Seq(0.5f, null, 2.0f, 0.1f, 3.3f, -0.7f)),
      ("short", f, Seq(0.5f, -1.25f, 2.0f)),
      ("nan", f, Seq(0.5f, Float.NaN, 2.0f, 0.1f, 3.3f, -0.7f)))
  }

  /** Column rows for that differential: ordinary, null, a null
    * element, short, NaN and Inf components, and random vectors.
    */
  private def litDiffRows: DataFrame = {
    val rng = new scala.util.Random(7)
    val vecs: Seq[Seq[Any]] = Seq(
      Seq(1f, 2f, 3f, 4f, 5f, 6f), null, Seq(1f, null, 3f, 4f, 5f, 6f),
      Seq(1f, 2f, 3f), Seq(Float.NaN, 1f, 1f, 1f, 1f, 1f),
      Seq(Float.PositiveInfinity, 0f, 0f, 0f, 0f, 0f), Seq.fill(6)(0f)) ++
      Seq.fill(20)(Seq.fill(6)(rng.nextFloat() * 2 - 1))
    val schema = StructType(
      StructField("id", IntegerType) +: StructField("c", ArrayType(FloatType)) +:
        litCases.map { case (n, t, _) => StructField(s"l_$n", t) })
    val rows = vecs.zipWithIndex.map { case (v, i) =>
      Row.fromSeq(Seq(i, v) ++ litCases.map(_._3)) }
    val dir = java.nio.file.Files.createTempDirectory("vecdot_lit").toString
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  test("VecDot with a literal side equals the column side and the HOF " +
    "twin exactly: parquet scan, generated projection and eval") {
    val df = litDiffRows
    def bits(v: Any): Option[Long] =
      Option(v).map(x => java.lang.Double.doubleToLongBits(x.asInstanceOf[Double]))
    val c = ColumnShim.expression(col("c"))
    litCases.foreach { case (name, t, value) =>
      val literal = Literal.create(value, t)
      val lit = ColumnShim.column(literal)
      val colSide = col(s"l_$name")
      // the native forms in their own projection: a CodegenFallback
      // (HOF) column would keep the whole projection out of codegen
      val out = df.select(col("id"),
        ColumnShim.column(VecDot(c, literal)).as("lit_right"),
        ColumnShim.column(VecDot(literal, c)).as("lit_left"),
        VectorFns.dot(col("c"), colSide).as("column"))
      val hof = df.select(col("id"), dotHof(col("c"), colSide), dotHof(col("c"), lit))
        .collect().map(r => r.getInt(0) -> Seq(bits(r.get(1)), bits(r.get(2)))).toMap
      val rows = out.collect().map(r =>
        r.getInt(0) -> ((1 to 3).map(i => bits(r.get(i))) ++ hof(r.getInt(0))))
      rows.foreach { case (id, vs) =>
        assert(vs.distinct.size == 1, s"$name, row $id: lit_right, lit_left, " +
          s"column, hof, hof_lit = ${vs.map(_.map(java.lang.Double.longBitsToDouble))}")
      }
      // the parquet path is whole-stage generated and takes the folded
      // loop whenever the literal is not null
      val gen = codegenString(out.queryExecution.executedPlan)
      assert(gen.contains("vecDotFolded") == (value != null), s"$name:\n$gen")
      // a generated projection (compiled strictly: an error throws
      // instead of falling back) and eval, row by row
      val exprs = Seq(
        VecDot(BoundReference(0, ArrayType(FloatType), nullable = true), literal),
        VecDot(literal, BoundReference(0, ArrayType(FloatType), nullable = true)))
      val proj = GenerateUnsafeProjection.generate(exprs)
      val byId = rows.toMap
      df.select(col("id"), col("c")).collect().foreach { r =>
        val in = InternalRow(Option(r.getSeq[Any](1)).map(v => new GenericArrayData(v.toArray)).orNull)
        val g = proj(in)
        val want = byId(r.getInt(0)).head
        Seq(0, 1).foreach { i =>
          assert(bits(if (g.isNullAt(i)) null else g.getDouble(i)) == want,
            s"$name, row ${r.getInt(0)}: generated projection, expr $i")
          assert(bits(exprs(i).eval(in)) == want, s"$name, row ${r.getInt(0)}: eval, expr $i")
        }
      }
    }
  }

  test("vec_dot / vec_norm_sq are registered as SQL functions") {
    val df = Seq((Array(1.0f, 2.0f), Array(3.0f, 4.0f))).toDF("a", "b")
    df.createOrReplaceTempView("vexpr_t")
    val r = spark.sql(
      "SELECT vec_dot(a, b) AS d, vec_norm_sq(a) AS n FROM vexpr_t").head()
    assert(r.getDouble(0) === 11.0 && r.getDouble(1) === 5.0)
  }

  test("token_shingles is registered as a SQL function") {
    val df = Seq(Tuple1(Array("a", "b", "c", "d"))).toDF("tk")
    df.createOrReplaceTempView("tsh_t")
    val r = spark.sql("SELECT token_shingles(tk, 2) AS sh FROM tsh_t").head()
    assert(r.getSeq[String](0) == Seq("a b", "b c", "c d"))
  }

  test("signCode buckets by sign pattern of leading dims") {
    val df = Seq(
      (Array(1.0f, -1.0f, 1.0f, 1.0f), "a"),
      (Array(0.5f, -2.0f, 3.0f, 9.0f), "b"), // same signs -> same code
      (Array(-1.0f, -1.0f, 1.0f, 1.0f), "c")
    ).toDF("v", "id")
    val codes = df.select($"id", VectorFns.signCode($"v", 4).as("c"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(codes("a") == codes("b"))
    assert(codes("a") != codes("c"))
  }
}
