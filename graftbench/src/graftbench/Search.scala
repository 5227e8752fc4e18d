package graftbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.operators.{Bm25, Fusion, VectorSearch}

/** The four search request types, each issued through graft's public
  * operators against a table with columns (id, text, label, year,
  * vec) and checked against a [[Reference]] after the timed window.
  *
  * `ann` is either a persisted IVF index (rows carrying cnrm and cell,
  * probed with annIvfProbe) or, when `index` is None, assignment on
  * the fly with annIvf.
  */
final class Search(h: Harness, table: DataFrame, index: Option[DataFrame],
    centroids: DataFrame, ref: () => Reference) {
  import Search._

  private def qFrame(v: Array[Float]): DataFrame =
    h.spark.createDataFrame(
      java.util.Collections.singletonList(Row(v.toSeq)), QSchema)

  private var planted = Set.empty[String]
  /** With --plant-wrong, corrupt the first answer of each kind. */
  private def plant(kind: String, rows: Seq[(Long, Double)]): Seq[(Long, Double)] =
    if (!h.a.plantWrong || planted(kind) || rows.size < 2) rows
    else {
      planted += kind
      rows.head.copy(_2 = rows.head._2 + 0.01) +: rows.tail
    }

  private def pairs(rs: Array[Row], score: String): Seq[(Long, Double)] =
    rs.toSeq.map(r => (r.getAs[Long]("id"), r.getAs[Double](score)))

  def dense(v: Array[Float], filter: Option[(Int, Int)], k: Int = K): Option[Seq[(Long, Double)]] = {
    val cands = filter.fold(table) { case (l, y) =>
      table.where(col("label") === l && col("year") >= y) }
    h.request("dense", "VectorSearch.denseTopK")(
      VectorSearch.denseTopK(cands, qFrame(v), "id", "vec", "qVec", k))
      .map { rs =>
        val got = plant("dense", pairs(rs, "cos_sim"))
        h.op { val r = ref(); Oracle.checkTopK(got, r.cosines(v, r.denseFilter(filter)), k)
          .map(e => s"dense: $e") }
        got
      }
  }

  def bm25(terms: Seq[String]): Option[Seq[(Long, Double)]] =
    h.request("bm25", "Bm25.topK")(Bm25.topK(table, "id", "text", terms, K)).map { rs =>
      val got = plant("bm25", pairs(rs, "bm25"))
      val runPhase = h.tracer.phase == "run"
      h.op {
        val r = ref()
        if (runPhase) h.ratio("Bm25.topK.scored_fraction", r.scoredFraction(terms))
        Oracle.checkTopK(got, r.bm25(terms), K).map(e => s"bm25: $e")
      }
      got
    }

  def hybrid(v: Array[Float], terms: Seq[String]): Option[Seq[(Long, Double)]] =
    h.request("hybrid", "Fusion.rrf") {
      val d = Fusion.ranked(
        VectorSearch.denseTopK(table, qFrame(v), "id", "vec", "qVec", Depth), "id", "cos_sim")
      val s = Fusion.ranked(Bm25.topK(table, "id", "text", terms, Depth), "id", "bm25")
      Fusion.rrf(d, s, "id", "rank", K)
    }.map { rs =>
      val got = plant("hybrid", pairs(rs, "rrf_score"))
      h.op {
        val r = ref()
        val want = Oracle.rrf(Oracle.ranked(r.cosines(v)).take(Depth).map(_._1),
          Oracle.ranked(r.bm25(terms)).take(Depth).map(_._1), K)
        if (got.map(_._1) == want.map(_._1) &&
          got.zip(want).forall { case (g, w) => math.abs(g._2 - w._2) < 1e-9 }) None
        else Some(s"hybrid: got $got, want $want")
      }
      got
    }

  /** IVF ANN; returns the answer and records recall@k against the
    * exact top-k (scores must be exact cosines either way).
    */
  def ann(v: Array[Float], nprobe: Int): Option[Seq[(Long, Double)]] =
    h.request("ann", index.fold("VectorSearch.annIvf")(_ => "VectorSearch.annIvfProbe")) {
      index match {
        case Some(ix) => VectorSearch.annIvfProbe(ix, qFrame(v), centroids,
          "id", "vec", "qVec", "cell", nprobe, K)
        case None => VectorSearch.annIvf(table, qFrame(v), centroids,
          "id", "vec", "qVec", "cell", nprobe, K)
      }
    }.map { rs =>
      val got = plant("ann", pairs(rs, "cos_sim"))
      val runPhase = h.tracer.phase == "run"
      h.op {
        val exact = ref().cosines(v)
        val top = Oracle.ranked(exact).take(K).map(_._1).toSet
        if (runPhase) h.recalls += got.count(g => top(g._1)).toDouble / K
        val bad = got.find { case (id, s) => exact.get(id).forall(e => math.abs(e - s) > Oracle.Tol) }
        val sorted = got.sliding(2).forall {
          case Seq((ia, sa), (ib, sb)) => sa > sb || (sa == sb && ia < ib)
          case _ => true
        }
        if (bad.nonEmpty) Some(s"ann: ${bad.get} is not the exact cosine")
        else if (!sorted || got.map(_._1).distinct.size != got.size) Some(s"ann: bad order $got")
        else if (got.size != math.min(K, exact.size)) Some(s"ann: ${got.size} rows")
        else None
      }
      got
    }
}

object Search {
  val K = 10
  val Depth = 20 // list depth fed to RRF
  val QSchema: StructType = StructType(Seq(StructField("qVec", ArrayType(FloatType))))
  val TableSchema: StructType = StructType(Seq(
    StructField("id", LongType), StructField("text", StringType),
    StructField("label", IntegerType), StructField("year", IntegerType),
    StructField("vec", ArrayType(FloatType))))

  def row(d: Doc): Row = Row(d.id, d.text, d.label, d.year, d.vec.toSeq)

  /** User bytes of a row: id + text + label + year + vector. */
  def userBytes(d: Doc): Long = 8L + d.text.length + 4 + 4 + 4L * d.vec.length

  /** Share of the `n` indexed rows that sit in the `nprobe` cells
    * nearest to `q` (the IVF probe ranking, recomputed on the driver).
    */
  def scannedFraction(q: Array[Float], cents: Seq[(Int, Array[Double])],
      cellRows: Map[Int, Long], nprobe: Int, n: Long): Double = {
    val qn = math.sqrt(q.map(x => x.toDouble * x).sum)
    val ranked = cents.map { case (c, v) =>
      val d = v.indices.map(i => v(i) * q(i)).sum
      val cn = math.sqrt(v.map(x => x * x).sum)
      (c, Oracle.round6(d / (cn * qn)))
    }.sortBy { case (c, s) => (-s, c) }.take(nprobe)
    ranked.map(c => cellRows.getOrElse(c._1, 0L)).sum.toDouble / math.max(1L, n)
  }
}
