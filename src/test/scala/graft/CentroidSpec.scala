package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.VectorFns
import graft.operators.VectorSearch

/** The array centroid (`centroidArrays`, one Summarizer mean per
  * group) against the long form it replaced: every vector posexploded
  * into (group, pos, v) rows, averaged per position, and regrouped by
  * `collect_list` → `array_sort` → `transform`, with centroidSimilarity
  * and embDrift joining those rows on `pos`. The long-form twins live
  * here as the reference. Where the two differ — bad inputs — the rule
  * is pinned on its own.
  */
class CentroidSpec extends SparkSpec {

  private def groupCentroidsLong(vectors: DataFrame, groupCol: String,
      vecCol: String): DataFrame =
    vectors
      .select(col(groupCol), posexplode(VectorFns.asDouble(col(vecCol))).as(Seq("pos", "v")))
      .groupBy(col(groupCol), col("pos"))
      .agg(avg("v").as("v"))

  private def centroidArraysLong(vectors: DataFrame, groupCol: String,
      vecCol: String): DataFrame =
    groupCentroidsLong(vectors, groupCol, vecCol)
      .groupBy(col(groupCol))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("v")))),
        x => x.getField("v")).as("centroid"))

  private def centroidSimilarityLong(vectors: DataFrame, groupCol: String,
      vecCol: String): DataFrame = {
    val c = groupCentroidsLong(vectors, groupCol, vecCol)
    val norms = c.groupBy(col(groupCol)).agg(sum(col("v") * col("v")).as("ns"))
    val a = c.select(col(groupCol).as("ga"), col("pos"), col("v").as("va"))
    val b = c.select(col(groupCol).as("gb"), col("pos"), col("v").as("vb"))
    a.join(b, Seq("pos"))
      .where(col("ga") < col("gb"))
      .groupBy(col("ga"), col("gb"))
      .agg(sum(col("va") * col("vb")).as("dot"))
      .join(norms.withColumnRenamed(groupCol, "ga").withColumnRenamed("ns", "nsa"), Seq("ga"))
      .join(norms.withColumnRenamed(groupCol, "gb").withColumnRenamed("ns", "nsb"), Seq("gb"))
      .select(col("ga"), col("gb"),
        round(col("dot") / nullif(sqrt(col("nsa")) * sqrt(col("nsb")), lit(0.0)), 6)
          .as("centroid_cos"))
      .where(col("centroid_cos").isNotNull)
  }

  /** The long-form drift cosines (group, centroid_cos); the row counts
    * and the status are unchanged code.
    */
  private def driftCosLong(oldVecs: DataFrame, newVecs: DataFrame, groupCol: String,
      vecCol: String): DataFrame = {
    val co = groupCentroidsLong(oldVecs, groupCol, vecCol)
      .select(col(groupCol), col("pos"), col("v").as("vo"))
    val cn = groupCentroidsLong(newVecs, groupCol, vecCol)
      .select(col(groupCol), col("pos"), col("v").as("vn"))
    co.join(cn, Seq(groupCol, "pos"))
      .groupBy(col(groupCol))
      .agg(sum(col("vo") * col("vn")).as("dot"),
        sum(col("vo") * col("vo")).as("nso"),
        sum(col("vn") * col("vn")).as("nsn"))
      .select(col(groupCol),
        round(col("dot") / nullif(sqrt(col("nso")) * sqrt(col("nsn")), lit(0.0)), 6)
          .as("centroid_cos"))
  }

  /** 900 random vectors of 24 dims in 40 groups over three partitions,
    * as array<`elem`>; a few groups hold one vector, one holds a zero
    * vector only.
    */
  private def vectors(elem: DataType, seed: Int): DataFrame = {
    val rng = new scala.util.Random(seed)
    val rows = (0 until 900).map { i =>
      val g = if (i < 3) 100 + i else rng.nextInt(40)
      val v: Seq[Any] =
        if (i == 3) Seq.fill(24)(0.0)
        else Seq.fill(24)(rng.nextGaussian() * (1 + g % 5))
      Row(i.toLong, if (i == 3) 200 else g,
        if (elem == FloatType) v.map(_.asInstanceOf[Double].toFloat) else v)
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), StructType(Seq(
      StructField("vec_id", LongType), StructField("g", IntegerType),
      StructField("vec", ArrayType(elem))))).repartition(3)
  }

  private def byGroup(df: DataFrame): Map[Int, Seq[Double]] =
    df.collect().map(r => r.getInt(0) -> r.getSeq[Double](1).toSeq).toMap

  test("centroidArrays equals the long-form mean within 1e-12 per element " +
    "on float and double vectors") {
    Seq(FloatType, DoubleType).foreach { elem =>
      val vecs = vectors(elem, 3)
      val got = byGroup(VectorSearch.centroidArrays(vecs, "g", "vec"))
      val want = byGroup(centroidArraysLong(vecs, "g", "vec"))
      assert(got.keySet == want.keySet && got.size == 44)
      want.foreach { case (g, w) =>
        assert(got(g).length == w.length, s"$elem group $g")
        got(g).zip(w).foreach { case (a, b) =>
          assert(math.abs(a - b) <= 1e-12, s"$elem group $g: $a vs $b")
        }
      }
      assert(got(200) == Seq.fill(24)(0.0))
    }
  }

  test("centroidSimilarity and embDrift give the long form's rows after round(…, 6)") {
    import spark.implicits._
    Seq(FloatType, DoubleType).foreach { elem =>
      val vecs = vectors(elem, 11)
      def pairs(df: DataFrame) =
        df.as[(Int, Int, Double)].collect().sortBy(p => (p._1, p._2)).toSeq
      val got = pairs(VectorSearch.centroidSimilarity(vecs, "g", "vec"))
      // 44 groups, one of them all-zero (no defined cosine): C(43, 2)
      assert(got.length == 43 * 42 / 2)
      assert(got == pairs(centroidSimilarityLong(vecs, "g", "vec")), s"$elem")
      // the new snapshot shifts every third group's first element
      val shifted = vecs.withColumn("vec", when(col("g") % 3 === 0,
        concat(array((element_at(col("vec"), 1) + 0.5).cast(elem)),
          slice(col("vec"), 2, 23))).otherwise(col("vec")))
      val drift = VectorSearch.embDrift(vecs, shifted, "g", "vec", 0.999)
        .collect().map(r => r.getInt(0) -> r).toMap
      val want = driftCosLong(vecs, shifted, "g", "vec").collect()
        .map(r => r.getInt(0) -> Option(r.get(1))).toMap
      assert(drift.keySet == want.keySet && drift.size == 44)
      want.foreach { case (g, c) =>
        assert(Option(drift(g).getAs[Any]("centroid_cos")) == c, s"$elem group $g")
      }
      assert(drift(200).getAs[String]("status") == "degenerate")
      assert(drift.values.count(_.getAs[String]("status") == "drifted") > 0)
    }
  }

  test("centroidArrays' bad-input rule: NULL vectors, NULL elements and empty " +
    "vectors enter no mean, an emptied group has no row, NaN propagates, " +
    "mixed lengths are refused") {
    val schema = StructType(Seq(StructField("g", StringType),
      StructField("vec", ArrayType(DoubleType, containsNull = true))))
    def frame(rows: (String, Seq[Any])*): DataFrame =
      spark.createDataFrame(java.util.Arrays.asList(rows.map { case (g, v) => Row(g, v) }: _*),
        schema).repartition(2)
    val vecs = frame(
      "a" -> Seq(1.0, 2.0), "a" -> Seq(3.0, 4.0), "a" -> null, "a" -> Seq(100.0, null),
      "a" -> Seq(),
      "e" -> null, "e" -> Seq(null, 1.0),
      "n" -> Seq(1.0, Double.NaN), "n" -> Seq(3.0, 1.0))
    val got = VectorSearch.centroidArrays(vecs, "g", "vec").collect()
      .map(r => r.getString(0) -> r.getSeq[Double](1).toSeq).toMap
    assert(got.keySet == Set("a", "n"))
    assert(got("a") == Seq(2.0, 3.0))
    assert(got("n").head == 2.0 && got("n")(1).isNaN)
    // a group that mixes lengths fails the job instead of averaging
    // per position
    val mixed = frame("m" -> Seq(1.0, 2.0), "m" -> Seq(1.0, 2.0, 3.0), "ok" -> Seq(1.0))
    val e = intercept[Exception] {
      VectorSearch.centroidArrays(mixed, "g", "vec").collect()
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("Dimensions mismatch")), e)
  }
}
