package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import scala.collection.mutable

/** Driver-side reference answers, computed in plain Scala with the
  * operators' arithmetic: double accumulation over float components in
  * index order, cosine = dot / (|a|·|b|), scores rounded HALF_UP to
  * 6 dp, ranking by (score desc, id asc).
  */
object Oracle {
  val Tol = 2e-6 // allowance for last-ulp differences before rounding

  def round6(x: Double): Double =
    java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue

  def norm(v: Array[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < v.length) { val x = v(i).toDouble; s += x * x; i += 1 }
    math.sqrt(s)
  }

  def dot(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
    s
  }

  def cosine(a: Array[Float], na: Double, q: Array[Float], nq: Double): Double =
    round6(dot(a, q) / (na * nq))

  /** Engine tokenizer: lowercase, `[a-z0-9]+` runs, length > 2. */
  private val TokenRe = "[a-z0-9]+".r
  def tokens(text: String): Array[String] =
    TokenRe.findAllIn(text.toLowerCase(java.util.Locale.ROOT)).filter(_.length > 2).toArray

  /** Ids the ingest dedup must drop, recomputed the engine's way.
    * Exact: equal md5 of the text, the lowest id kept. Near, over the
    * rest: distinct word-`n`-gram shingles of the lowercased whitespace
    * tokens; two 32-bit base hashes per shingle (md5 hex digits 1-8 of
    * the shingle and of shingle + "#"); hash i = min over shingles of
    * (m1 + i·m2) mod 4294967311; bands of `rows` hashes keyed by the md5
    * of their decimal values and the band ordinal joined by "|";
    * buckets holding more than `maxBucket` docs ignored; candidate
    * pairs kept when their exact shingle Jaccard is at least
    * `minJaccard`, and the higher id of each kept pair drops.
    */
  def dedupDrops(docs: Seq[(Long, String)], n: Int, numHashes: Int, rows: Int,
      maxBucket: Int, minJaccard: Double): Set[Long] = {
    val md = MessageDigest.getInstance("MD5")
    val hex = java.util.HexFormat.of()
    def md5Hex(s: String): String = hex.formatHex(md.digest(s.getBytes(UTF_8)))
    def hash32(s: String): Long = {
      val d = md.digest(s.getBytes(UTF_8))
      ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) | ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
    }
    val exact = docs.groupBy(d => md5Hex(d._2)).values
      .flatMap { g => val keep = g.map(_._1).min; g.map(_._1).filter(_ != keep) }.toSet
    val shingles: Map[Long, Set[String]] = docs.filterNot(d => exact(d._1)).map { case (id, text) =>
      val tk = text.trim.toLowerCase(java.util.Locale.ROOT).split("\\s+")
      id -> tk.sliding(n).filter(_.length == n).map(_.mkString(" ")).toSet
    }.toMap
    val buckets = mutable.HashMap.empty[(Int, String), mutable.ArrayBuffer[Long]]
    for ((id, sh) <- shingles if sh.nonEmpty) {
      val base = sh.toArray.map(x => (hash32(x), hash32(x + "#")))
      val sig = Array.tabulate(numHashes)(i => base.map { case (m1, m2) => (m1 + i * m2) % 4294967311L }.min)
      for (b <- 0 until numHashes / rows) {
        val key = md5Hex((sig.slice(b * rows, (b + 1) * rows).map(_.toString) :+ b.toString).mkString("|"))
        buckets.getOrElseUpdate((b, key), mutable.ArrayBuffer.empty) += id
      }
    }
    val pairs = buckets.values.filter(_.size <= maxBucket).flatMap { ids =>
      val s = ids.sorted
      for (i <- s.indices; j <- i + 1 until s.length) yield (s(i), s(j))
    }.toSet
    val near = pairs.collect { case (a, b) if {
      val common = (shingles(a) intersect shingles(b)).size.toDouble
      common / (shingles(a).size + shingles(b).size - common) >= minJaccard
    } => b }
    exact ++ near
  }

  def ranked(scores: Iterable[(Long, Double)]): Seq[(Long, Double)] =
    scores.toSeq.sortBy { case (id, s) => (-s, id) }

  /** Top-k check against the exact score of every eligible id.
    * Passes when the answer has the expected length, distinct ids,
    * each score equal to the exact score (within [[Tol]]), the
    * engine's order, and no omitted id that beats the last one kept
    * (beyond [[Tol]], or by the id tie-break on an exact tie).
    * Returns a description of the first violation.
    */
  def checkTopK(
      got: Seq[(Long, Double)], exact: collection.Map[Long, Double],
      k: Int): Option[String] = {
    val want = math.min(k, exact.size)
    if (got.size != want) return Some(s"expected $want rows, got ${got.size}")
    if (got.map(_._1).distinct.size != got.size) return Some("duplicate ids")
    for ((id, s) <- got) exact.get(id) match {
      case None => return Some(s"id $id is not eligible")
      case Some(e) if math.abs(e - s) > Tol => return Some(s"id $id score $s, exact $e")
      case _ =>
    }
    for (Seq((ia, sa), (ib, sb)) <- got.sliding(2) if got.size > 1)
      if (!(sa > sb || (sa == sb && ia < ib))) return Some(s"order broken at $ia/$ib")
    if (got.nonEmpty) {
      val (lastId, lastS) = got.last
      val kept = got.map(_._1).toSet
      for ((id, e) <- exact if !kept(id)) {
        if (e > lastS + Tol) return Some(s"omitted id $id scores $e > $lastS")
        if (e == lastS && id < lastId) return Some(s"omitted id $id wins the tie at $lastS")
      }
    }
    None
  }

  /** RRF fusion exactly as Fusion.rrf computes it, from two ranked
    * reference lists (1-based ranks).
    */
  def rrf(dense: Seq[Long], sparse: Seq[Long], k: Int): Seq[(Long, Double)] = {
    val dr = dense.zipWithIndex.map { case (id, i) => id -> (i + 1L) }.toMap
    val sr = sparse.zipWithIndex.map { case (id, i) => id -> (i + 1L) }.toMap
    val ids = (dense ++ sparse).distinct
    ranked(ids.map { id =>
      val d = dr.get(id).map(r => 0.6 / (60.0 + r.toDouble)).getOrElse(0.0)
      val s = sr.get(id).map(r => 0.4 / (60.0 + r.toDouble)).getOrElse(0.0)
      id -> round6(d + s)
    }).take(k)
  }
}

/** Exact-search reference over a fixed set of rows (id, text, vector):
  * cosine scores for dense/ANN, BM25 (k1 = 1.5, b = 0.75, Okapi idf)
  * from an inverted index built once.
  */
final class Reference(rows: Seq[(Long, String, Array[Float])], labels: Map[Long, Int] = Map.empty,
    years: Map[Long, Int] = Map.empty) {
  private val ids: Array[Long] = rows.map(_._1).toArray
  private val vecs: Array[Array[Float]] = rows.map(_._3).toArray
  private val norms: Array[Double] = vecs.map(Oracle.norm)
  private val dl: Array[Double] = new Array[Double](ids.length)
  private val postings = mutable.HashMap.empty[String, mutable.ArrayBuffer[(Int, Int)]]
  rows.zipWithIndex.foreach { case ((_, text, _), i) =>
    val toks = Oracle.tokens(text)
    dl(i) = toks.length.toDouble
    toks.groupBy(identity).foreach { case (t, occ) =>
      postings.getOrElseUpdate(t, mutable.ArrayBuffer.empty) += ((i, occ.length))
    }
  }
  private val avgdl = dl.sum / math.max(1, dl.length)
  val size: Int = ids.length

  /** Rounded cosine of every row passing `filter`. */
  def cosines(q: Array[Float], filter: Long => Boolean = _ => true): mutable.Map[Long, Double] = {
    val nq = Oracle.norm(q)
    val out = mutable.HashMap.empty[Long, Double]
    var i = 0
    while (i < ids.length) {
      if (norms(i) > 0 && filter(ids(i))) out(ids(i)) = Oracle.cosine(vecs(i), norms(i), q, nq)
      i += 1
    }
    out
  }

  def denseFilter(f: Option[(Int, Int)]): Long => Boolean = f match {
    case None => _ => true
    case Some((label, minYear)) => id => labels.get(id).contains(label) && years.get(id).exists(_ >= minYear)
  }

  /** Rounded BM25 score of every row holding at least one query term. */
  def bm25(rawTerms: Seq[String]): mutable.Map[Long, Double] = {
    val terms = rawTerms.map(_.toLowerCase(java.util.Locale.ROOT)).distinct
    val n = ids.length.toDouble
    val tf = terms.map(t => postings.get(t).map(_.toMap).getOrElse(Map.empty[Int, Int]))
    val idf = tf.map { m =>
      val df = m.size.toDouble
      math.log((n - df + 0.5) / (df + 0.5) + 1.0)
    }
    val docs = tf.flatMap(_.keys).distinct
    val out = mutable.HashMap.empty[Long, Double]
    docs.foreach { i =>
      val s = terms.indices.map { j =>
        val f = tf(j).getOrElse(i, 0).toDouble
        idf(j) * (f * (1.5 + 1.0) / (f + 1.5 * (1.0 - 0.75 + 0.75 * dl(i) / avgdl))) * 1.0
      }.reduce(_ + _)
      out(ids(i)) = Oracle.round6(s)
    }
    out
  }

  /** Share of rows holding at least one of `terms`. */
  def scoredFraction(terms: Seq[String]): Double =
    terms.map(_.toLowerCase(java.util.Locale.ROOT)).distinct
      .flatMap(t => postings.get(t).map(_.map(_._1)).getOrElse(Nil)).distinct.size /
      math.max(1.0, ids.length)
}
