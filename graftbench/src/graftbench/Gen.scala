package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.util.SplittableRandom

/** One corpus row as the generator emits it. `text` already carries a
  * section marker; `vec` is the 128-d embedding (clustered by topic).
  */
final case class Doc(id: Long, text: String, label: Int, year: Int, vec: Array[Float])

/** One search request of the query pool. `kind` is dense |
  * dense_filtered | bm25 | hybrid | ann; a dense_filtered request
  * carries a (label, minYear) filter.
  */
final case class Query(
    pid: Int, kind: String, vec: Array[Float], terms: Seq[String],
    filter: Option[(Int, Int)])

/** Zipf(s) sampler over ranks 0..n-1 via an inverse-CDF table. */
final class Zipf(n: Int, s: Double) {
  private val cdf: Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
    val tot = w.sum
    var acc = 0.0
    w.map { x => acc += x; acc / tot }
  }
  def draw(r: SplittableRandom): Int = {
    val u = r.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(n - 1, if (i >= 0) i else -i - 1)
  }
}

/** Seeded input generator. Everything the program receives is built
  * here from `seed` alone, before any timed window; the same seed
  * yields byte-identical inputs (`digest` hashes their canonical
  * serialization).
  *
  * Text: a Zipf vocabulary of pseudo-words that survive the reference
  * tokenizer (`[a-z0-9]+`, length > 2). Half the words of a passage
  * come from a shared background list, half from its topic's own
  * slice, so BM25 and the hashed TF-IDF both see topical structure.
  * Vectors: `Dim`-d, a topic centre plus Gaussian noise, so IVF cells
  * line up with topics and ANN recall is meaningful.
  */
final class Gen(seed: Long) {
  import Gen._

  private def rng(stream: Long) = new SplittableRandom(seed * 1000003L + stream)

  /** Vocabulary: background words first (ranks 0..Background-1), then
    * one slice of TopicWords per topic. No word collides with a
    * section marker or a junk keyword.
    */
  val vocab: Array[String] = {
    val r = rng(1)
    val cons = "bcdfghklmnprstvz"
    val vows = "aeiou"
    val reserved = (Markers.map(_._1) ++ JunkWords).toSet
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    // word length depends on the rank only, so text volume (and the
    // tokenizer's work) is the same for every seed
    while (seen.size < Background + Topics * TopicWords) {
      val rank = seen.size
      val w = (0 until 2 + rank % 3).map(_ =>
        s"${cons.charAt(r.nextInt(cons.length))}${vows.charAt(r.nextInt(vows.length))}")
        .mkString + (if (rank % 4 == 0) cons.charAt(r.nextInt(cons.length)).toString else "")
      if (!reserved(w)) seen += w
    }
    seen.toArray
  }

  private val bgZipf = new Zipf(Background, 1.0)
  private val topicZipf = new Zipf(TopicWords, 0.9)

  def word(r: SplittableRandom, topic: Int): String =
    if (r.nextInt(2) == 0) vocab(bgZipf.draw(r))
    else vocab(Background + topic * TopicWords + topicZipf.draw(r))

  def words(r: SplittableRandom, topic: Int, n: Int): String =
    (0 until n).map(_ => word(r, topic)).mkString(" ")

  /** A query term of topic `t`: one of its TermRanks-ranked words, so
    * every query matches a similar share of the corpus.
    */
  def topicTerm(r: SplittableRandom, t: Int): String =
    vocab(Background + t * TopicWords + TermRanks.start + r.nextInt(TermRanks.size))

  /** Topic centres on the unit sphere. */
  val centres: Array[Array[Double]] = {
    val r = rng(2)
    Array.fill(Topics)(unit(Array.fill(Dim)(gauss(r))))
  }

  /** A vector near topic `t` (cosine to the centre about 0.6). */
  def topicVec(r: SplittableRandom, t: Int): Array[Float] = {
    val c = centres(t)
    val v = Array.tabulate(Dim)(i => c(i) + 1.3 * gauss(r) / math.sqrt(Dim))
    unit(v).map(_.toFloat)
  }

  /** `v` plus a small perturbation (a query near an indexed vector). */
  def jitter(r: SplittableRandom, v: Array[Float], eps: Double): Array[Float] =
    unit(Array.tabulate(Dim)(i => v(i) + eps * gauss(r) / math.sqrt(Dim)))
      .map(_.toFloat)

  /** Serving corpus of `n` chunks: section marker + ChunkWords words,
    * topic label, year, vector. Ids are 1..n.
    */
  def chunks(n: Int, stream: Long = 3): Array[Doc] = {
    val r = rng(stream)
    Array.tabulate(n)(i => chunk(r, i + 1L))
  }

  /** Chunk `id`; topics cycle with the id so every topic holds the
    * same share of the corpus.
    */
  def chunk(r: SplittableRandom, id: Long): Doc = {
    val t = (id % Topics).toInt
    val marker = Markers(r.nextInt(Markers.size))._1
    Doc(id, s"$marker ${words(r, t, ChunkWords)}", t, 1995 + r.nextInt(30),
      topicVec(r, t))
  }

  /** Raw sectioned papers for `ingest`: four marked sections, a junk
    * boilerplate tail on JunkShare of them, planted exact duplicates
    * (ExactDupShare, a copy under a new id) and near duplicates
    * (NearDupShare, a copy with NearDupEdit of its words replaced).
    * Returns the docs and the planted (dupId, originalId) pairs.
    */
  def papers(n: Int): (Array[Doc], Seq[(Long, Long)], Seq[(Long, Long)]) = {
    val r = rng(4)
    val nExact = math.round(n * ExactDupShare).toInt
    val nNear = math.round(n * NearDupShare).toInt
    val nOrig = n - nExact - nNear
    val orig = Array.tabulate(nOrig) { i =>
      val t = i % Topics
      val body = Markers.map { case (m, _) =>
        s"$m ${words(r, t, PaperSectionWords)}" }.mkString(" ")
      val junk = if (r.nextDouble() < JunkShare) " " + JunkTail else ""
      Doc(i + 1L, body + junk, t, 1995 + r.nextInt(30), Array.emptyFloatArray)
    }
    val exact = (0 until nExact).map { j =>
      val o = orig(r.nextInt(nOrig))
      (o.copy(id = nOrig + j + 1L), o.id)
    }
    val near = (0 until nNear).map { j =>
      val o = orig(r.nextInt(nOrig))
      val toks = o.text.split(" ")
      val edited = toks.map(w =>
        if (!Markers.exists(_._1 == w) && r.nextDouble() < NearDupEdit)
          word(r, o.label) else w).mkString(" ")
      (o.copy(id = nOrig + nExact + j + 1L, text = edited), o.id)
    }
    // shuffle ids' file order so duplicates are not adjacent
    val all = orig ++ exact.map(_._1) ++ near.map(_._1)
    val order = shuffled(r, all.indices.toArray)
    (order.map(all), exact.map { case (d, o) => (d.id, o) },
      near.map { case (d, o) => (d.id, o) })
  }

  /** Query pool of `size` requests, split into the request kinds by the
    * stated shares; vectors jitter an indexed vector of `corpus`, terms
    * come from the request's topic.
    */
  def queryPool(corpus: Array[Doc], size: Int): Array[Query] = {
    val r = rng(5)
    val kinds = Kinds.flatMap { case (k, share) => Seq.fill(math.round(size * share).toInt)(k) }
    kinds.zipWithIndex.map { case (kind, pid) =>
      val anchor = corpus(r.nextInt(corpus.length))
      val vec = jitter(r, anchor.vec, QueryJitter)
      val terms = (0 until QueryTerms).map(_ => topicTerm(r, anchor.label))
      val filter = if (kind == "dense_filtered") Some((anchor.label, FilterMinYear)) else None
      Query(pid, kind, vec, terms, filter)
    }.toArray
  }

  /** Request stream of `n` pool indices. The kind of each request
    * follows the fixed Schedule (so every seed sees the same mix); the
    * request within its kind is drawn with Zipf(PopularityS) popularity
    * over a seeded permutation of that kind's queries, so popular
    * requests repeat.
    */
  def stream(pool: Array[Query], n: Int): Array[Int] = {
    val r = rng(6)
    val byKind = pool.groupBy(_.kind).map { case (k, qs) =>
      k -> shuffled(r, qs.map(_.pid).sorted)
    }
    val zipf = byKind.map { case (k, ids) => k -> new Zipf(ids.length, PopularityS) }
    Array.tabulate(n) { i =>
      val k = Schedule(i % Schedule.length)
      byKind(k)(zipf(k).draw(r))
    }
  }
}

object Gen {
  val Dim = 128
  val Topics = 16
  val Background = 300
  val TopicWords = 400
  val ChunkWords = 40
  val PaperSectionWords = 60
  val Markers: Seq[(String, String)] = Seq(
    "abstract" -> "abstract", "methods" -> "methods",
    "results" -> "results", "discussion" -> "discussion")
  val JunkWords: Seq[String] = Seq("copyright", "reserved", "funding")
  val JunkTail = "copyright 2024 all rights reserved funding 12345 67890"
  val JunkShare = 0.3
  val ExactDupShare = 0.05
  val NearDupShare = 0.05
  val NearDupEdit = 0.03
  // request mix: shares of the query pool, and the repeating order of
  // kinds in the request stream. No trace of real traffic exists for
  // this engine, so both are assumptions: each of the five request
  // shapes (dense, dense with a (label, min year) filter, bm25, hybrid,
  // ann) gets an equal share, one in every five requests.
  val Kinds: Seq[(String, Double)] = Seq("dense" -> 0.2, "dense_filtered" -> 0.2,
    "bm25" -> 0.2, "hybrid" -> 0.2, "ann" -> 0.2)
  val Schedule: Array[String] = "dense bm25 ann hybrid dense_filtered".split(" ")
  val QueryTerms = 2     // BM25 / hybrid query terms
  val TermRanks = 10 until 60 // topic-word ranks query terms come from
  val FilterMinYear = 2010
  val QueryJitter = 0.5  // query vector = indexed vector + this much noise
  // Zipf exponent of request popularity within a kind; also an
  // assumption: web request streams are Zipf-like with an exponent
  // below 1 (Breslau et al., "Web Caching and Zipf-like Distributions",
  // INFOCOM 1999, measured 0.64-0.83 across proxy traces)
  val PopularityS = 0.8

  def gauss(r: SplittableRandom): Double = {
    // Box-Muller from the seeded stream (no shared Random state)
    val u1 = math.max(r.nextDouble(), 1e-300)
    math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * r.nextDouble())
  }

  def unit(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / n)
  }

  def shuffled(r: SplittableRandom, a: Array[Int]): Array[Int] = {
    val b = a.clone()
    for (i <- b.length - 1 to 1 by -1) {
      val j = r.nextInt(i + 1); val t = b(i); b(i) = b(j); b(j) = t
    }
    b
  }

  /** Canonical JSON line of a doc (the ingest input format). */
  def jsonLine(d: Doc): String =
    s"""{"doc_id":${d.id},"text":"${d.text}","label":${d.label},"year":${d.year}}"""

  /** SHA-256 over the canonical serialization of generated inputs. */
  final class Digest {
    private val md = MessageDigest.getInstance("SHA-256")
    def docs(ds: Iterable[Doc]): this.type = {
      ds.foreach { d =>
        md.update(jsonLine(d).getBytes(UTF_8))
        d.vec.foreach(f => md.update(java.lang.Float.toString(f).getBytes(UTF_8)))
      }
      this
    }
    def queries(qs: Iterable[Query]): this.type = {
      qs.foreach(q => md.update(
        s"${q.pid}|${q.kind}|${q.terms.mkString(",")}|${q.filter}|${q.vec.mkString(",")}"
          .getBytes(UTF_8)))
      this
    }
    def ints(xs: Iterable[Int]): this.type = {
      md.update(xs.mkString(",").getBytes(UTF_8)); this
    }
    def hex: String = md.digest().map(b => f"${b & 0xff}%02x").mkString
  }
}
