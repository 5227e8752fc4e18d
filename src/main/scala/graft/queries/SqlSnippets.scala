package graft.queries

/** Shared DuckDB oracle SQL fragments — generated from the same
  * constants the Spark operators use, so both engines stay in
  * mechanical lockstep across every query that embeds them.
  */
object SqlSnippets {

  /** 32-bit decode of md5 hex chars [off+1, off+8] of `mExpr`,
    * without conv() (absent in DuckDB 1.0.0) — the oracle twin of
    * TextFns.hexHash32 (off = 0) / hexHash32Hi (off = 8). ONE shared
    * definition: every query family that hashes must decode
    * identically or cross-engine hashes drift.
    */
  def hexPrefixDecode(mExpr: String, off: Int = 0): String =
    (1 to 8).map { k =>
      val coef = math.pow(16, 8 - k).toLong
      s"(strpos('0123456789abcdef', substr($mExpr, ${off + k}, 1)) - 1) * ${coef}"
    }.mkString(" + ")

  /** One-round spherical-Lloyd training + final-assignment CTE chain
    * over the embeddings table — the oracle twin of
    * `VectorSearch.lloydCentroids(k, iters = 1)` followed by
    * `assignCells` (id-ordered seeds — `sd` numbers them with a
    * window where Spark numbers the collected seed rows on the driver —
    * cosine argmax on 6dp-rounded scores with ties to the smallest
    * cell — NearestCell's fold — member means, re-assign to the
    * trained codebook). ONE shared definition (the
    * hexPrefixDecode rule): dedup_semantic and vs_ivf_pq replay the
    * identical protocol and must stay in lockstep.
    *
    * Emits: ev, sv (vec_id, i, v), en (vec_id, ns), sd, c0, c0n,
    * a0, a1, asg0, `$cent` (trained centroids: cell, i, v),
    * `${cent}n` (cell norms), b0, b1, asg (vec_id, cell — the final
    * assignment). sv/en are caller-reusable downstream.
    */
  def lloydSphericalCtes(k: Int, cent: String): String =
    s"""ev AS (SELECT vec_id, embedding,
       |    unnest(generate_series(1, len(embedding))) AS i FROM embeddings),
       |sv AS (SELECT vec_id, i, embedding[i]::DOUBLE AS v FROM ev),
       |en AS (SELECT vec_id, sum(v * v) AS ns FROM sv GROUP BY vec_id),
       |sd AS (SELECT vec_id,
       |    (row_number() OVER (ORDER BY vec_id) - 1)::INT AS cell
       |  FROM embeddings ORDER BY vec_id LIMIT $k),
       |c0 AS (SELECT sd.cell, sv.i, sv.v
       |  FROM sd JOIN sv ON sv.vec_id = sd.vec_id),
       |c0n AS (SELECT cell, sum(v * v) AS ns FROM c0 GROUP BY cell),
       |a0 AS (SELECT sv.vec_id, c0.cell, sum(sv.v * c0.v) AS dot
       |  FROM sv JOIN c0 ON sv.i = c0.i GROUP BY 1, 2),
       |a1 AS (SELECT a0.vec_id, a0.cell,
       |    round(a0.dot / (sqrt(en.ns) * sqrt(c0n.ns)), 6) AS s
       |  FROM a0 JOIN en ON a0.vec_id = en.vec_id
       |  JOIN c0n ON a0.cell = c0n.cell),
       |asg0 AS (SELECT vec_id, cell FROM (
       |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id
       |        ORDER BY s DESC, cell) AS rn FROM a1) WHERE rn = 1),
       |$cent AS (SELECT asg0.cell, sv.i, avg(sv.v) AS v
       |  FROM asg0 JOIN sv ON sv.vec_id = asg0.vec_id GROUP BY 1, 2),
       |${cent}n AS (SELECT cell, sum(v * v) AS ns FROM $cent GROUP BY cell),
       |b0 AS (SELECT sv.vec_id, $cent.cell, sum(sv.v * $cent.v) AS dot
       |  FROM sv JOIN $cent ON sv.i = $cent.i GROUP BY 1, 2),
       |b1 AS (SELECT b0.vec_id, b0.cell,
       |    round(b0.dot / (sqrt(en.ns) * sqrt(${cent}n.ns)), 6) AS s
       |  FROM b0 JOIN en ON b0.vec_id = en.vec_id
       |  JOIN ${cent}n ON b0.cell = ${cent}n.cell),
       |asg AS (SELECT vec_id, cell FROM (
       |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id
       |        ORDER BY s DESC, cell) AS rn FROM b1) WHERE rn = 1)""".stripMargin

  /** Fixed-size overlapping chunking CTEs (s → st → ch); `ch` exposes
    * (doc_id, chunk_index, chunk_text) — the oracle twin of
    * graft.operators.Chunker.fixedChunks(size, overlap) with
    * stride = size - overlap. ONE shared definition so chunk_fixed
    * and every downstream filtered/derived chunk query stay in
    * lockstep.
    */
  def chunkCtes(size: Int, stride: Int): String =
    s"""s AS (SELECT doc_id, text, length(text) AS n FROM documents
       |           WHERE length(text) > 0),
       |st AS (SELECT doc_id, text, unnest(generate_series(0, n - 1, $stride)) AS start FROM s),
       |ch AS (SELECT doc_id, (start // $stride)::BIGINT AS chunk_index,
       |    substr(text, start + 1, $size) AS chunk_text
       |  FROM st)""".stripMargin

  /** Marker-position columns p0..p{n-1} for section tagging — the
    * oracle twin of Chunker.tagSections' instr positions (absent
    * marker → Int.MaxValue sentinel).
    */
  def sectionPosCols(markers: Seq[(String, String)], textExpr: String): String =
    markers.zipWithIndex.map { case ((kw, _), i) =>
      // tagSections lowercases markers too; sqlLit keeps a quote in a
      // marker from breaking the oracle text
      val k = graft.functions.TextFns.sqlLit(graft.functions.TextFns.lcRoot(kw))
      s"""(CASE WHEN strpos(lower($textExpr), $k) > 0
         |      THEN strpos(lower($textExpr), $k)
         |      ELSE 2147483647 END) AS p$i""".stripMargin
    }.mkString(",\n    ")

  /** Earliest-marker-wins CASE over p0..p{n-1} — the oracle twin of
    * Chunker.tagSections' chained CASE (marker i wins iff present and
    * at-or-before every LATER marker; priority order breaks ties).
    */
  def sectionCase(markers: Seq[(String, String)], default: String): String = {
    val arms = markers.zipWithIndex.map { case ((_, sec), i) =>
      val conds = s"p$i <> 2147483647" +:
        ((i + 1) until markers.size).map(j => s"p$i <= p$j")
      s"WHEN ${conds.mkString(" AND ")} THEN '$sec'"
    }
    s"CASE ${arms.mkString("\n       ")}\n       ELSE '$default' END"
  }

  /** BM25 scoring CTE chain (tok → dl → st → tf → df → sc); `sc`
    * exposes (doc_id, s) with the raw Okapi score (k1=1.5, b=0.75),
    * matching graft.operators.Bm25.score. `weightCase` optionally
    * appends a per-term weight factor (synonym down-weighting).
    * `dl` is computed per DOCUMENT (not from the exploded token
    * stream) so zero-token docs count in n_docs/avgdl, mirroring the
    * operator's all-docs corpus statistics.
    */
  def bm25ScoreCtes(termList: String, weightCase: String = ""): String =
    s"""tok AS (SELECT doc_id,
       |         unnest(list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
       |                t -> length(t) > 2)) AS term
       |       FROM documents),
       |dl AS (SELECT doc_id,
       |         len(list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
       |             t -> length(t) > 2))::DOUBLE AS dl
       |       FROM documents),
       |st AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM dl),
       |tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok
       |       WHERE term IN ($termList) GROUP BY doc_id, term),
       |df AS (SELECT term, count(DISTINCT doc_id)::DOUBLE AS df FROM tok
       |       WHERE term IN ($termList) GROUP BY term),
       |sc AS (SELECT tf.doc_id,
       |         sum(ln((st.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
       |             * tf.tf * 2.5
       |             / (tf.tf + 1.5 * (1.0 - 0.75 + 0.75 * dl.dl / st.avgdl))
       |             $weightCase) AS s
       |       FROM tf JOIN df ON tf.term = df.term
       |       JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN st
       |       GROUP BY tf.doc_id)""".stripMargin
}
