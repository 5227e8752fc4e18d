package graftbench

import scala.collection.mutable

/** Unit checks of the benchmark's own oracle and generator (no Spark):
  * exact answers pass, planted wrong answers are caught, the reference
  * arithmetic matches hand-computed values, and the same seed yields
  * the same inputs. Exits non-zero on the first failed check list.
  */
object SelfTest {
  private val failures = mutable.ArrayBuffer.empty[String]
  private def expect(cond: Boolean, what: String): Unit = if (!cond) failures += what

  def main(argv: Array[String]): Unit = {
    oracle()
    reference()
    generator()
    if (failures.isEmpty) println("graftbench self-test: ok")
    else {
      failures.foreach(f => println(s"FAILED: $f"))
      sys.exit(1)
    }
  }

  private def oracle(): Unit = {
    val exact: Map[Long, Double] = (1L to 30L).map(i => i -> Oracle.round6(1.0 / i)).toMap
    val right = Oracle.ranked(exact).take(5)
    expect(Oracle.checkTopK(right, exact, 5).isEmpty, "exact top-5 accepted")
    val bumped = right.head.copy(_2 = right.head._2 + 0.01) +: right.tail
    expect(Oracle.checkTopK(bumped, exact, 5).nonEmpty, "wrong score caught")
    expect(Oracle.checkTopK(right.reverse, exact, 5).nonEmpty, "wrong order caught")
    expect(Oracle.checkTopK(right.tail :+ (6L -> exact(6L)), exact, 5).nonEmpty,
      "omitted best answer caught")
    expect(Oracle.checkTopK(right.init :+ (99L -> 0.1), exact, 5).nonEmpty,
      "ineligible (deleted or filtered) id caught")
    expect(Oracle.checkTopK(right.init, exact, 5).nonEmpty, "short answer caught")
    val ties = Map(1L -> 0.5, 2L -> 0.5, 3L -> 0.5)
    expect(Oracle.checkTopK(Seq(1L -> 0.5, 2L -> 0.5), ties, 2).isEmpty, "id tie-break accepted")
    expect(Oracle.checkTopK(Seq(1L -> 0.5, 3L -> 0.5), ties, 2).nonEmpty, "id tie-break violation caught")
    // HALF_UP on the shortest decimal form, as Spark's round()
    expect(Oracle.round6(0.1234565) == 0.123457, "round6 is HALF_UP")
    expect(Oracle.round6(-0.1234565) == -0.123457, "round6 rounds half away from zero")
    // RRF 0.6/0.4 at k = 60 over 1-based ranks
    val fused = Oracle.rrf(Seq(10L, 20L), Seq(20L, 30L), 3)
    expect(fused.map(_._1) == Seq(20L, 10L, 30L), s"rrf order $fused")
    expect(fused.head._2 == Oracle.round6(0.6 / 62 + 0.4 / 61), s"rrf score ${fused.head}")
  }

  private def reference(): Unit = {
    val docs = Seq(
      (1L, "alpha beta beta", Array(1f, 0f)),
      (2L, "beta gamma", Array(0f, 1f)),
      (3L, "an of delta", Array(1f, 1f)))
    val ref = new Reference(docs)
    // hand-computed Okapi BM25 (k1 = 1.5, b = 0.75) of "beta":
    // N = 3, df = 2, dl = (3, 2, 1) → avgdl = 2 ("an", "of" are too short)
    val idf = math.log((3 - 2 + 0.5) / (2 + 0.5) + 1.0)
    def bm(tf: Double, dl: Double) = idf * (tf * 2.5 / (tf + 1.5 * (0.25 + 0.75 * dl / 2.0)))
    val got = ref.bm25(Seq("BETA"))
    expect(got == Map(1L -> Oracle.round6(bm(2, 3)), 2L -> Oracle.round6(bm(1, 2))),
      s"bm25 reference $got")
    val cos = ref.cosines(Array(1f, 0f))
    expect(cos == Map(1L -> 1.0, 2L -> 0.0, 3L -> Oracle.round6(1 / math.sqrt(2))),
      s"cosine reference $cos")
    expect(Oracle.tokens("The X-ray, ab 12 1234") sameElements Array("the", "ray", "1234"),
      "tokenizer keeps [a-z0-9]+ runs longer than two")
  }

  private def generator(): Unit = {
    def digest(seed: Long) = {
      val g = new Gen(seed)
      val corpus = g.chunks(300)
      val pool = g.queryPool(corpus, 40)
      val (papers, exact, near) = g.papers(80)
      new Gen.Digest().docs(corpus).queries(pool).ints(g.stream(pool, 100)).docs(papers)
        .ints((exact ++ near).map(_._1.toInt)).hex
    }
    expect(digest(7) == digest(7), "same seed, same inputs")
    expect(digest(7) != digest(8), "another seed, other inputs")
    val g = new Gen(3)
    val tokensOk = g.chunks(200).forall(d => Oracle.tokens(d.text).length == Gen.ChunkWords + 1)
    expect(tokensOk, "every generated word survives the tokenizer")
    val (papers, exact, near) = g.papers(200)
    val byId = papers.map(p => p.id -> p.text).toMap
    expect(exact.forall { case (d, o) => byId(d) == byId(o) }, "planted exact duplicates are copies")
    expect(near.forall { case (d, o) =>
      val (a, b) = (byId(d).split(" "), byId(o).split(" "))
      a.length == b.length && a.zip(b).count(p => p._1 != p._2) <= a.length / 10
    }, "planted near duplicates differ in a few words")
    expect(exact.size == 10 && near.size == 10, "planted duplicate shares")
    val drops = Oracle.dedupDrops(papers.map(p => p.id -> p.text).toSeq, Ingest.ShingleN,
      Ingest.NumHashes, Ingest.BandRows, Ingest.MaxBucket, Ingest.MinJaccard)
    expect(exact.forall(p => drops(p._1)), "dedup reference drops every exact copy")
    expect(drops.forall(id => exact.exists(_._1 == id) || near.exists(_._1 == id)),
      "dedup reference drops only planted duplicates")
    expect(near.count(p => drops(p._1)) >= Ingest.NearRecallFloor * near.size,
      "dedup reference finds the planted near duplicates")
    val pool = g.queryPool(g.chunks(500), 100)
    val stream = g.stream(pool, 2000)
    val kinds = stream.map(i => pool(i).kind).groupBy(identity).map { case (k, v) => k -> v.length }
    expect(kinds == Gen.Schedule.groupBy(identity).map { case (k, v) => k -> v.length * (2000 / Gen.Schedule.length) },
      s"request mix follows the schedule: $kinds")
    val head = g.stream(pool, 200)
    expect(1.0 - head.distinct.length / 200.0 > 0.3, "popular requests repeat")
  }
}
