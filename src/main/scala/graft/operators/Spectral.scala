package graft.operators

import breeze.linalg.{eigSym, DenseMatrix}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Graph-Laplacian spectrum of a thresholded co-expression edge list
  * (reference: rnaseq_pipeline/ml/network_enhancer.py:184
  * calculate_graph_laplacian — L = I − D^(−1/2) W D^(−1/2), the GCNN
  * normalized Laplacian). The reference's :405
  * calculate_spectral_features (spectral gap, algebraic
  * connectivity, zero-eigenvalue component count, spectral radius)
  * are one-line reads of the ascending spectrum returned here.
  *
  * Scale design — the pca2d driver-eigen device: the edge list is
  * panel-bounded upstream (correlationEdges caps the node set at
  * maxFeatures, so nodes ≤ 1000 and edges ≤ maxFeatures² whatever
  * the corpus size — the sample dimension was already aggregated
  * away). An n×n symmetric eigendecomposition with n ≤ panel is a
  * bounded-constant driver step at ANY data scale, exactly like
  * pca2d's d×d covariance eigen. Only the panel edge list is
  * collected; nothing corpus-scale touches the driver.
  *
  * Spec-only surface (like pca2d): eigenvalues come from LAPACK via
  * breeze (shipped in Spark's jars) and last-ulp float details are
  * implementation-defined, so the invariants are pinned in
  * SpectralSpec on analytically-known graphs rather than
  * oracle-hashed.
  */
object Spectral {

  /** Ascending eigenvalues of the normalized Laplacian of the
    * undirected weighted graph in `edges`. Node order (hence matrix
    * layout) is the sorted node-name order — deterministic. A
    * zero-degree row follows the reference's convention
    * (D^(−1/2) entry = 0 → the row reduces to the identity row).
    */
  def laplacianEigenvalues(
      edges: DataFrame, aCol: String, bCol: String,
      wCol: String, maxNodes: Int = 2000): Array[Double] = {
    val rows = edges.select(
      col(aCol).cast("string"), col(bCol).cast("string"),
      col(wCol).cast("double")).collect() // panel-bounded, see header
    val nodes = rows.flatMap(r => Seq(r.getString(0), r.getString(1)))
      .distinct.sorted
    val n = nodes.length
    // same explicit contract as Stats.closenessCentrality: the
    // header's panel bound is ENFORCED, not assumed — an unbounded
    // edge list fails loudly here instead of OOMing the driver on an
    // n×n dense eigendecomposition
    require(n <= maxNodes,
      s"laplacianEigenvalues: $n nodes exceeds maxNodes=$maxNodes — " +
        "bound the edge list upstream (correlationEdges maxFeatures)")
    if (n == 0) return Array.empty
    val idx = nodes.zipWithIndex.toMap
    val a = DenseMatrix.zeros[Double](n, n)
    rows.foreach { r =>
      val i = idx(r.getString(0)); val j = idx(r.getString(1))
      val w = r.getDouble(2)
      a(i, j) += w; a(j, i) += w
    }
    val dInvSqrt = Array.tabulate(n) { i =>
      var d = 0.0; var j = 0
      while (j < n) { d += a(i, j); j += 1 }
      if (d > 0) 1.0 / math.sqrt(d) else 0.0
    }
    val l = DenseMatrix.tabulate[Double](n, n) { (i, j) =>
      (if (i == j) 1.0 else 0.0) - dInvSqrt(i) * a(i, j) * dInvSqrt(j)
    }
    eigSym(l).eigenvalues.toArray.sorted
  }
}
