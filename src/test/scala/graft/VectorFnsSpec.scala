package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

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

  test("l2DistSq computes squared euclidean distance") {
    val df = Seq((Array(1.0f, 2.0f), Array(4.0f, 6.0f))).toDF("a", "b")
    val d = df.select(VectorFns.l2DistSq($"a", $"b")).head().getDouble(0)
    assert(d === 25.0)
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
