package graft.tools

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.Sessions

/** Dev harness: widen a probe directory's embedding column to the
  * reference embedder's real dimension (PubMedBERT emits d=768 —
  * reference embeddings.py:70-72) so the ANN/PQ/SQ8 surface can be
  * benched at the width every per-dimension constant actually scales
  * with: codebook broadcast size (×d), per-row fold cost (×d), PQ
  * subspace width d/m, SQ8 range rows (×d). NOT part of the library
  * surface — the output is a Bench/ProfileAll input, never an oracle
  * input (correctness stays bound to the driver's testdata at d=64).
  *
  * Widening = deterministic tile + per-(vec_id, tile, component)
  * jitter: the d=64 vector is repeated d/64 times, each component
  * nudged by a zero-mean hash-derived offset (±0.005). Tiling alone
  * preserves pairwise cosine EXACTLY (both dot product and norms
  * scale by the tile count), so the widened corpus keeps the d=64
  * neighborhood structure the recall probes were validated on; the
  * jitter breaks bit-identical tiles so PQ subspaces and SQ8 ranges
  * see 768 distinct component distributions, not 12 copies of one.
  *
  * All other tables are copied file-for-file (layout, row groups and
  * stats preserved) so every query binding runs unchanged against
  * the widened directory.
  */
object WidenVecs {

  private def copyTree(src: Path, dst: Path): Unit = {
    Files.walk(src).forEach { p =>
      val t = dst.resolve(src.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, StandardCopyOption.REPLACE_EXISTING): Unit
    }
  }

  /** args: [in] [out] [dim] */
  def main(args: Array[String]): Unit = {
    val in = args.headOption.getOrElse("/root/repo/.scaleprobe/sf1")
    val out =
      if (args.length > 1) args(1) else "/root/repo/.scaleprobe/sf1d768"
    val dim = if (args.length > 2) args(2).toInt else 768
    val spark = Sessions.localBuilder(32).appName("graft-widen").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    Files.createDirectories(Paths.get(out))
    val tables = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents")
    tables.foreach { t =>
      copyTree(Paths.get(in, s"$t.parquet"), Paths.get(out, s"$t.parquet"))
    }

    val emb = spark.read.parquet(s"$in/embeddings.parquet")
    val d0 = emb.select(size(col("embedding"))).head.getInt(0)
    require(dim % d0 == 0,
      s"target dim $dim must be a multiple of the source dim $d0")
    val tiles = dim / d0
    val widened = emb.withColumn("embedding",
      flatten(transform(sequence(lit(0), lit(tiles - 1)), t =>
        transform(col("embedding"), (x, j) =>
          (x + (pmod(hash(col("vec_id"), t, j), lit(1000))
            .cast("double") / 1000.0 - 0.5) * 0.01).cast("float")))))
    widened.repartition(8)
      .write.mode(SaveMode.Overwrite).parquet(s"$out/embeddings.parquet")

    val chk = spark.read.parquet(s"$out/embeddings.parquet")
    val stats = chk.agg(count(lit(1)), min(size(col("embedding"))),
      max(size(col("embedding")))).head()
    println(s"[widen] embeddings: rows=${stats.getLong(0)} " +
      s"dim=${stats.getInt(1)}..${stats.getInt(2)} (from d=$d0 x $tiles)")
    spark.stop()
  }
}
