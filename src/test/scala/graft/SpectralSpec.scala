package graft

import graft.operators.Spectral

/** Invariant pins for the normalized-Laplacian spectral features on
  * analytically-known graphs (normalized Laplacian spectra are
  * textbook values: P3 = {0, 1, 2}, triangle = {0, 3/2, 3/2},
  * K4 = {0, 4/3, 4/3, 4/3}, any single edge = {0, 2}).
  */
class SpectralSpec extends SparkSpec {
  import spark.implicits._

  private val Eps = 1e-9

  private def eigs(edges: Seq[(String, String, Double)]): Array[Double] =
    Spectral.laplacianEigenvalues(
      edges.toDF("ga", "gb", "w"), "ga", "gb", "w")

  test("path P3: spectrum {0, 1, 2}") {
    val ev = eigs(Seq(("a", "b", 1.0), ("b", "c", 1.0)))
    assert(ev.length == 3)
    assert(math.abs(ev(0)) < Eps)
    assert(math.abs(ev(1) - 1.0) < Eps)
    assert(math.abs(ev(2) - 2.0) < Eps)
  }

  test("triangle: spectrum {0, 1.5, 1.5}; uniform weight scaling is a no-op") {
    val ev = eigs(Seq(("a", "b", 1.0), ("b", "c", 1.0), ("a", "c", 1.0)))
    assert(ev.length == 3)
    assert(math.abs(ev(0)) < Eps && math.abs(ev(1) - 1.5) < Eps &&
      math.abs(ev(2) - 1.5) < Eps)
    // normalized Laplacian is invariant under uniform edge-weight
    // scaling (D and W scale together)
    val scaled = eigs(Seq(("a", "b", 0.7), ("b", "c", 0.7), ("a", "c", 0.7)))
    ev.zip(scaled).foreach { case (x, y) => assert(math.abs(x - y) < Eps) }
  }

  test("K4: spectrum {0, 4/3, 4/3, 4/3}") {
    val ev = eigs(Seq(("a", "b", 1.0), ("a", "c", 1.0), ("a", "d", 1.0),
      ("b", "c", 1.0), ("b", "d", 1.0), ("c", "d", 1.0)))
    assert(ev.length == 4)
    assert(math.abs(ev(0)) < Eps)
    ev.drop(1).foreach(e => assert(math.abs(e - 4.0 / 3.0) < Eps))
  }

  test("two disjoint edges: two zero eigenvalues = two components") {
    val ev = eigs(Seq(("a", "b", 1.0), ("c", "d", 0.5)))
    assert(ev.length == 4)
    assert(ev.count(e => math.abs(e) < 1e-10) == 2)
    // each component is a single edge -> spectrum {0, 2} twice: the
    // radius is 2 and the gap (= algebraic connectivity) is 0
    assert(math.abs(ev.last - 2.0) < Eps)
    assert(math.abs(ev(1) - ev(0)) < Eps)
    assert(math.abs(ev(1)) < Eps)
  }

  test("connected graph: exactly one zero eigenvalue, gap = connectivity") {
    val ev = eigs(Seq(("a", "b", 1.0), ("b", "c", 1.0)))
    assert(ev.count(e => math.abs(e) < 1e-10) == 1)
    assert(math.abs(ev(1) - 1.0) < Eps)
    assert(math.abs((ev(1) - ev(0)) - 1.0) < Eps)
  }

  test("empty edge list yields an empty spectrum row") {
    assert(eigs(Seq.empty).isEmpty)
  }
}
