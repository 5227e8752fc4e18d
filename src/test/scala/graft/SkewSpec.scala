package graft

import org.apache.spark.sql.functions._

import graft.operators.Skew

class SkewSpec extends SparkSpec {
  import spark.implicits._

  // hot key: 82 of 100 rows share key 1 (80 by construction + 81, 91)
  private def big = (1 to 100).map { i =>
    (if (i <= 80) 1L else (i % 10).toLong, i.toLong, i * 1.0)
  }.toDF("k", "row_id", "v")

  private def dim = Seq((1L, "hot"), (2L, "a"), (3L, "b"), (5L, "c"))
    .toDF("k", "name")

  test("saltedJoin returns exactly the plain-join rows") {
    val plain = big.join(dim, Seq("k"))
      .select(col("row_id"), col("name"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val salted = Skew.saltedJoin(big, dim, "k", col("row_id"), 8)
      .select(col("row_id"), col("name"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(salted == plain)
    assert(plain.count(_._2 == "hot") == 82)
  }

  test("salting actually spreads the hot key across buckets") {
    val buckets = big.where(col("k") === 1L)
      .withColumn("_salt", pmod(col("row_id").cast("long"), lit(8L)))
      .select(col("_salt")).distinct().count()
    assert(buckets == 8L)
  }
}
